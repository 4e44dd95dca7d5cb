"""Byte pins for every multimodal encoder, value pins for every decoder.

Each encoder in ``operators/multimodal.py`` (and the fixture encoders in
``tests/mm_reference.py``) renders a fixed doc-id set the way the
``mm_suite`` renderers do, plus the variants those renderers leave out
(every PCM container on every doc, all four FLAC stereo modes, multi-frame
FLAC, top-down raw AVI, restart markers and per-scan tables in JPEG).
The sha256 of the payloads is pinned, so a writer refactor that moves one
byte fails here. The decoders' outputs on the same payloads are pinned the
same way (values, dtype and shape), and so are the exception classes of
the payloads a safe decode stage quarantines: ``mm_suite`` keeps only the
class, so a class change would otherwise pass every oracle check.

The constants were computed from the codecs as they stood before the
container writers were merged. Needs no Spark.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import multimodal as MM

from . import mm_reference as REF

DOC_IDS = tuple(range(48)) + tuple(range(50, 400, 10))
FLAC_MODES = ("independent", "left-side", "right-side", "mid-side")


def _image(d):
    return MM._fixture_image(d)


def _jpeg(d, sub, **kw):
    w, h, px = _image(d)
    if sub == "420":
        px = MM._fixture_pixels_420(d, w, h)
    return MM.encode_jpeg(w, h, px, subsampling=sub, **kw)


def _y4m(d):
    w, h, n = MM._y4m_fixture_geom(d)
    return MM.encode_y4m(w, h, MM._y4m_fixture_frames(d, w, h, n))


def _adpcm(d):
    rate, ch, n = MM._wav_fixture_geom(d)
    return MM.encode_wav_adpcm(rate, MM._adpcm_fixture_samples(d, ch, n))


def _flac(d, mode, block_size=4096):
    rate, samples = MM._wav_fixture(d)
    if mode != "independent" and samples.shape[1] != 2:
        return None
    return MM.encode_flac(rate, samples, block_size=block_size, stereo_mode=mode)


def _avi_frames(d):
    w, h, n = MM._mjpeg_fixture_geom(d)
    return w, h, [MM._mjpeg_fixture_frame(d, f, w, h) for f in range(n)]


def _avi_mjpeg(d):
    w, h, frames = _avi_frames(d)
    return MM.encode_avi_mjpeg(w, h, [MM.encode_jpeg(w, h, fr) for fr in frames])


def _avi_raw(d, top_down):
    w, h, frames = _avi_frames(d)
    return MM.encode_avi_rawrgb(w, h, np.stack(frames), top_down=top_down)


def _image_out(p):
    d = MM.decode_image_real(p)
    return (d["width"], d["height"], d["maxval"]), d["pixels"]


def _audio_out(p):
    rate, samples = MM.decode_audio_native(p)
    return (rate,), samples


def _y4m_out(p):
    w, h, frames = MM.decode_y4m(p)
    return (w, h), frames


def _avi_out(p):
    w, h, frames = MM.decode_avi_mjpeg(p)
    return (w, h), frames


#: name -> (doc_id -> payload or None when the variant does not apply, decoder)
ENCODERS = {
    "ppm": (lambda d: MM.encode_ppm(*_image(d)), _image_out),
    "png": (lambda d: MM.encode_png(*_image(d)), _image_out),
    "bmp": (lambda d: REF.encode_bmp(*_image(d)), _image_out),
    "jpeg_444": (lambda d: _jpeg(d, "444"), _image_out),
    "jpeg_420": (lambda d: _jpeg(d, "420"), _image_out),
    "jpeg_444_progressive": (lambda d: _jpeg(d, "444", progressive=True), _image_out),
    "jpeg_420_progressive": (lambda d: _jpeg(d, "420", progressive=True), _image_out),
    "jpeg_420_restart": (lambda d: _jpeg(d, "420", restart_interval=2), _image_out),
    "jpeg_444_progressive_restart_dht": (
        lambda d: _jpeg(d, "444", progressive=True, restart_interval=3, per_scan_dht=True),
        _image_out,
    ),
    "jpeg_arithmetic_stub": (lambda d: MM.encode_arithmetic_stub(*_image(d)), None),
    "y4m": (_y4m, _y4m_out),
    "wav_s16": (lambda d: MM.encode_wav(*MM._wav_fixture(d)), _audio_out),
    "wav_extensible": (lambda d: MM.encode_wav_extensible(*MM._wav_fixture(d)), _audio_out),
    "wav_s24": (lambda d: MM.encode_wav_s24(*MM._wav_fixture(d)), _audio_out),
    "wav_u8": (lambda d: MM.encode_wav_u8(*MM._wav_fixture(d)), _audio_out),
    "wav_alaw": (lambda d: MM.encode_wav_alaw(*MM._wav_fixture(d)), _audio_out),
    "wav_ulaw": (lambda d: REF.encode_wav_ulaw(*MM._wav_fixture(d)), _audio_out),
    "wav_f32": (lambda d: MM.encode_wav_f32(*MM._wav_fixture(d)), _audio_out),
    "wav_adpcm": (_adpcm, _audio_out),
    **{f"flac_{m}": (lambda d, m=m: _flac(d, m), _audio_out) for m in FLAC_MODES},
    "flac_mid-side_block16": (lambda d: _flac(d, "mid-side", block_size=16), _audio_out),
    "avi_mjpeg": (_avi_mjpeg, _avi_out),
    "avi_rawrgb": (lambda d: _avi_raw(d, False), _avi_out),
    "avi_rawrgb_top_down": (lambda d: _avi_raw(d, True), _avi_out),
}


def _digests(name: str) -> tuple[str, str | None]:
    """(sha256 of the payloads, sha256 of their decoded outputs) over DOC_IDS."""
    encode, decode = ENCODERS[name]
    enc, dec = hashlib.sha256(), hashlib.sha256()
    for d in DOC_IDS:
        p = encode(d)
        if p is None:
            continue
        enc.update(struct.pack("<QI", d, len(p)) + p)
        if decode is not None:
            head, arr = decode(p)
            dec.update(repr((d, head, arr.dtype.str, arr.shape)).encode() + arr.tobytes())
    return enc.hexdigest(), dec.hexdigest() if decode is not None else None


def _mp3_wav():
    p = bytearray(MM.encode_wav(*MM._wav_fixture(4)))
    p[20] = 0x55  # format tag 0x55 = MPEG Layer 3
    return bytes(p)


def _flac_bad_crc():
    p = bytearray(MM.encode_flac(*MM._wav_fixture(5)))
    p[-3] ^= 0x01  # a residual bit: the frame CRC-16 no longer matches
    return bytes(p)


def _cut_data(wav: bytes, k: int) -> bytes:
    """``wav`` with its data chunk (the last chunk) ``k`` bytes shorter,
    re-padded and with both sizes rewritten: a well-formed container
    whose data is not whole samples."""
    at = wav.rindex(b"data")
    (size,) = struct.unpack_from("<I", wav, at + 4)
    data = wav[at + 8 : at + 8 + size - k]
    body = wav[8:at] + b"data" + struct.pack("<I", len(data)) + data + b"\x00" * (len(data) & 1)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _extensible_bad_guid():
    p = bytearray(MM.encode_wav_extensible(*MM._wav_fixture(4)))
    p[50] ^= 0x01  # inside the SubFormat GUID's media-type suffix
    return bytes(p)


#: name -> (decoder, payload builder) for the payloads a safe decode
#: stage quarantines.
QUARANTINE_PAYLOADS = {
    "ppm_truncated": (MM.decode_image_real, lambda: MM.encode_ppm(*_image(0))[:10]),
    "jpeg_arithmetic": (MM.decode_image_real, lambda: MM.encode_arithmetic_stub(*_image(30))),
    "unknown_magic": (MM.decode_image_real, lambda: b"MOOVftypisom" + bytes(16)),
    "bmp_truncated": (MM.decode_image_real, lambda: REF.encode_bmp(*_image(7))[:-5]),
    "png_bad_crc": (MM.decode_image_real, lambda: MM.encode_png(*_image(7))[:-1] + b"\x00"),
    "wav_mp3": (MM.decode_audio_native, _mp3_wav),
    "wav_truncated": (MM.decode_audio_native, lambda: MM.encode_wav(*MM._wav_fixture(4))[:-3]),
    "wav_ogg_magic": (MM.decode_audio_native, lambda: b"OggS" + bytes(40)),
    "wav_zero_rate": (MM.decode_audio_native, lambda: MM.encode_wav(0, MM._wav_fixture(4)[1])),
    "wav_adpcm_zero_rate": (
        MM.decode_audio_native,
        lambda: MM.encode_wav_adpcm(0, MM._adpcm_fixture_samples(4, 1, 44)),
    ),
    "wav_adpcm_short_data": (MM.decode_audio_native, lambda: _adpcm(4)[:-4]),
    "wav_adpcm_partial_block": (MM.decode_audio_native, lambda: _cut_data(_adpcm(4), 4)),
    "wav_extensible_bad_guid": (MM.decode_audio_native, _extensible_bad_guid),
    "wav_s24_odd_data": (MM.decode_audio_native, lambda: MM.encode_wav_s24(*MM._wav_fixture(4))[:-1]),
    "wav_s24_partial_sample": (
        MM.decode_audio_native, lambda: _cut_data(MM.encode_wav_s24(*MM._wav_fixture(4)), 1)
    ),
    "wav_s16_partial_frame": (
        MM.decode_audio_native, lambda: _cut_data(MM.encode_wav(*MM._wav_fixture(5)), 2)
    ),
    "flac_truncated": (MM.decode_audio_native, lambda: MM.encode_flac(*MM._wav_fixture(5))[:50]),
    "flac_bad_crc16": (MM.decode_audio_native, _flac_bad_crc),
    "y4m_c420": (MM.decode_y4m, lambda: b"YUV4MPEG2 W4 H4\n" + b"FRAME\n" + bytes(24)),
    "y4m_truncated": (MM.decode_y4m, lambda: _y4m(7)[:-1]),
    "y4m_riff_magic": (MM.decode_y4m, lambda: b"RIFF" + bytes(20)),
    "avi_h264": (MM.decode_avi_mjpeg, lambda: _avi_mjpeg(10).replace(b"MJPG", b"H264")),
    "avi_truncated": (MM.decode_avi_mjpeg, lambda: _avi_mjpeg(10)[:-7]),
    "avi_no_frames": (MM.decode_avi_mjpeg, lambda: MM.encode_avi_mjpeg(5, 4, [])),
    "avi_rawrgb_short_frame": (
        MM.decode_avi_mjpeg,
        lambda: MM.encode_avi_rawrgb(5, 4, np.zeros((2, 4, 5, 3), np.uint8)).replace(
            b"00db" + struct.pack("<I", 64), b"00db" + struct.pack("<I", 63), 1
        ),
    ),
    "avi_wave_magic": (MM.decode_avi_mjpeg, lambda: MM.encode_wav(*MM._wav_fixture(4))),
}

ENCODER_SHA256 = {
    "avi_mjpeg": "7da0e285e9a1f3eda013d76b73f4c275a91e5d4082eb23bb5d753f3aa023a15a",
    "avi_rawrgb": "f127907939b1177e07426e3df1b91fe678ed3d245abd84ce38edca9a7f42c9b7",
    "avi_rawrgb_top_down": "65c80e7e2143e79585037686a39bbdfd394d4c2781fee32d773fad1006569d58",
    "bmp": "615baff25dbb74050a69848812ace817ffdab12c274bad1c864e9a8bd1d60997",
    "flac_independent": "df3d04ca2d93b9381a846b30aee166e0bdb78d4bb37895827b1c35d4f509fbf6",
    "flac_left-side": "a8c320358577e65c0a53aa7b1ac806ea48a728582777faa4b52676a78c5c2a92",
    "flac_mid-side": "ab42301acf79cee0511a0d19f7586e57eb753dc3c8489ccca23ef8877da7d3e6",
    "flac_mid-side_block16": "d639dd249e5bce06e1b1cecdf7236f14b701041d0e0bd786e11600a2aa1b7624",
    "flac_right-side": "aa745a7324e911d7aee3e304e63ee452976882fa93c7a1b4ae7b5571ed194daa",
    "jpeg_420": "eda15d0fdbadcf39b69b16ffc7db11e2104a86a13d53af40cc83c78528653706",
    "jpeg_420_progressive": "eee33a5caafba8e89fb812cea47a68286312f06692d381f7cd9c0d631de1085b",
    "jpeg_420_restart": "80d3fe7ba65714c82d639ec9634a7c3c02a02c46737772d6d97f854568c805df",
    "jpeg_444": "fb47cd7a5a63f5e42ac19e790f6ee5077f293f702763e575d8d4e699c9dd3bc0",
    "jpeg_444_progressive": "c79f14581b9f985c1e2db1e3ff690c1a87112123183688e8a1b036f0cee61936",
    "jpeg_444_progressive_restart_dht": "a747af7b040008cacf13eeede7d0c0eeee124e50c7ee0b28711a9e9266cd9e22",
    "jpeg_arithmetic_stub": "84a91159b60636a8bba9242ef5955c5b655331d92a8a78a60bd22bbf31d70a7a",
    "png": "ad93ea3d39064e00f970fa6cf83647d9ef93a2c83b7435652278043fef10ed38",
    "ppm": "4d44f60a0980be82c6ffbbfe13bf1afecfd7eb10c745e32c3b5098ffce399e95",
    "wav_adpcm": "976284c2fa0e156d4de0f15ce8ed38dcb8e0d3f5c09f4e5d4608cc774a5d1299",
    "wav_alaw": "c8c1843b2367c3aa5ab30479951748b10ce8f17c27bbf81b38eae1f58acfda38",
    "wav_extensible": "d7c47db63a34a16b73079e182d01cddb4813e580d7cde8d53d6563f82adefe38",
    "wav_f32": "1dece775e17b4586ea95f0c374e3df6a27343f109d36843908b379521a4bb096",
    "wav_s16": "11d10c86413725f427e6a07bdb90c0fe8c80415b90a1061c49bd5b4d1e92cbea",
    "wav_s24": "50639a747e28f597a6af7e18f6560a3e2cbcb51f9cbb4e0abe761126d75bf361",
    "wav_u8": "7249c71713471e8a1dcc35829307934752f815ef2c5dfc450f0d9ee3487c31a0",
    "wav_ulaw": "67d69afdeb1bdb673eba0a64c43174274cf9f5fe155b8a6a5c0c590069c7df45",
    "y4m": "4c692ea7e621d6bcb4521ebf7152271271c04dd8df6bb9540af23acd3090fade",
}

DECODED_SHA256 = {
    "avi_mjpeg": "065d56e67010662291a16e8376f2aa4eb977ecf39fd664d8b38d22ad147914f5",
    "avi_rawrgb": "e9b1ee0ee6635919fca3c8e9ae6c19dd11d04b57d5e1bf19d9136a5de36f0711",
    "avi_rawrgb_top_down": "e9b1ee0ee6635919fca3c8e9ae6c19dd11d04b57d5e1bf19d9136a5de36f0711",
    "bmp": "de218d3a7da73d977122a21a30a875afb20077489baf795e4e535f7e8b276bcb",
    "flac_independent": "4e2e39f971add081e15bfef73a594919b90ff9e7db0ff955590ed164814d3c86",
    "flac_left-side": "844ae437d2958a84e569a93f6ee7e39b873cd705012acff6c7c84f2763fc2185",
    "flac_mid-side": "844ae437d2958a84e569a93f6ee7e39b873cd705012acff6c7c84f2763fc2185",
    "flac_mid-side_block16": "844ae437d2958a84e569a93f6ee7e39b873cd705012acff6c7c84f2763fc2185",
    "flac_right-side": "844ae437d2958a84e569a93f6ee7e39b873cd705012acff6c7c84f2763fc2185",
    "jpeg_420": "d45759c10445be09048cef429980174546f81cb29eae4d7c90dc45f78e1b451c",
    "jpeg_420_progressive": "d45759c10445be09048cef429980174546f81cb29eae4d7c90dc45f78e1b451c",
    "jpeg_420_restart": "d45759c10445be09048cef429980174546f81cb29eae4d7c90dc45f78e1b451c",
    "jpeg_444": "17a5f2f0a8d9a7dd07e3d399ab568d2d4eeae0a71d568d4a1ad0e49101d71b9e",
    "jpeg_444_progressive": "17a5f2f0a8d9a7dd07e3d399ab568d2d4eeae0a71d568d4a1ad0e49101d71b9e",
    "jpeg_444_progressive_restart_dht": "17a5f2f0a8d9a7dd07e3d399ab568d2d4eeae0a71d568d4a1ad0e49101d71b9e",
    "png": "de218d3a7da73d977122a21a30a875afb20077489baf795e4e535f7e8b276bcb",
    "ppm": "de218d3a7da73d977122a21a30a875afb20077489baf795e4e535f7e8b276bcb",
    "wav_adpcm": "de60db254f62074920d8ab9c540acbadf7fa8c6f51244643446682bffdcb49d3",
    "wav_alaw": "126839fb6c33418a79f670af94006accf1a3f7836e4de311aa36bb14d1d750c5",
    "wav_extensible": "4e2e39f971add081e15bfef73a594919b90ff9e7db0ff955590ed164814d3c86",
    "wav_f32": "4e2e39f971add081e15bfef73a594919b90ff9e7db0ff955590ed164814d3c86",
    "wav_s16": "4e2e39f971add081e15bfef73a594919b90ff9e7db0ff955590ed164814d3c86",
    "wav_s24": "4e2e39f971add081e15bfef73a594919b90ff9e7db0ff955590ed164814d3c86",
    "wav_u8": "c95a27b5450a03083961cdc1b05cc393dc7ead6398a2cf95d7f61aa9a28044e5",
    "wav_ulaw": "976f208974a91d8b663d8d61f27a372c3c49d052b1f077846544d60e9e4f7a58",
    "y4m": "fb73bb36a43691ac4edc74c3b9655732f5b37c6570964b18be827ebe2acb215a",
}

QUARANTINE_CLASSES = {
    "ppm_truncated": "ValueError",
    "jpeg_arithmetic": "NotImplementedError",
    "unknown_magic": "NotImplementedError",
    "bmp_truncated": "ValueError",
    "png_bad_crc": "ValueError",
    "wav_mp3": "NotImplementedError",
    "wav_truncated": "ValueError",
    "wav_ogg_magic": "ValueError",
    "wav_zero_rate": "ValueError",
    "wav_adpcm_zero_rate": "ValueError",
    "wav_adpcm_short_data": "ValueError",
    "wav_adpcm_partial_block": "ValueError",
    "wav_extensible_bad_guid": "ValueError",
    "wav_s24_odd_data": "ValueError",
    "wav_s24_partial_sample": "ValueError",
    "wav_s16_partial_frame": "ValueError",
    "flac_truncated": "ValueError",
    "flac_bad_crc16": "ValueError",
    "y4m_c420": "NotImplementedError",
    "y4m_truncated": "ValueError",
    "y4m_riff_magic": "ValueError",
    "avi_h264": "NotImplementedError",
    "avi_truncated": "ValueError",
    "avi_no_frames": "ValueError",
    "avi_rawrgb_short_frame": "ValueError",
    "avi_wave_magic": "ValueError",
}


@pytest.mark.parametrize("name", sorted(ENCODERS))
def test_encoder_bytes_and_decoded_values_are_pinned(name):
    enc, dec = _digests(name)
    assert enc == ENCODER_SHA256[name], f"{name}: payload bytes changed"
    assert dec == DECODED_SHA256.get(name), f"{name}: decoded values changed"


def test_quarantine_exception_classes_are_pinned():
    got = {}
    for name, (decode, build) in QUARANTINE_PAYLOADS.items():
        try:
            decode(build())
        except Exception as exc:  # noqa: BLE001 — the class is what is pinned
            got[name] = type(exc).__name__
        else:
            got[name] = None
    assert got == QUARANTINE_CLASSES
