"""Real-codec multimodal tests: PPM/BMP encode↔decode roundtrips, the
format quirks (PPM comments, BMP bottom-up BGR padded rows), the magic-
byte dispatch seam, and the Spark render→decode pipeline end to end."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import multimodal as MM

from . import mm_reference as REF


def _px(w, h, seed=0):
    return MM._fixture_pixels(seed, w, h)


@pytest.mark.parametrize("w,h", [(1, 1), (3, 2), (16, 14), (5, 7)])
def test_ppm_roundtrip(w, h):
    px = _px(w, h, seed=w * 100 + h)
    payload = MM.encode_ppm(w, h, px)
    dw, dh, maxval, decoded = MM.decode_ppm(payload)
    assert (dw, dh, maxval) == (w, h, 255)
    assert np.array_equal(decoded, px)


def test_ppm_parser_handles_comments_and_whitespace():
    """The decoder implements the real P6 grammar, not just our encoder's
    output: # comments anywhere in the header, arbitrary whitespace."""
    px = _px(3, 2)
    payload = b"P6 # a comment\n# another\n 3\t2 # dims done\n255\n" + px.tobytes()
    w, h, maxval, decoded = MM.decode_ppm(payload)
    assert (w, h, maxval) == (3, 2, 255)
    assert np.array_equal(decoded, px)


@pytest.mark.parametrize("w,h", [(1, 1), (2, 2), (3, 5), (16, 14)])
def test_bmp_roundtrip(w, h):
    """w=1,3 exercise nonzero row padding; the roundtrip proves the
    bottom-up row order and BGR swap cancel exactly."""
    px = _px(w, h, seed=w * 10 + h)
    payload = REF.encode_bmp(w, h, px)
    dw, dh, maxval, decoded = MM.decode_bmp(payload)
    assert (dw, dh, maxval) == (w, h, 255)
    assert np.array_equal(decoded, px)


def test_bmp_layout_is_really_bottom_up_bgr():
    """Pin the on-disk layout itself (not just the roundtrip): the FIRST
    raster row of the file is the BOTTOM image row, channels reversed."""
    px = np.zeros((2, 1, 3), dtype=np.uint8)
    px[0, 0] = (10, 20, 30)  # top row RGB
    px[1, 0] = (40, 50, 60)  # bottom row RGB
    payload = REF.encode_bmp(1, 2, px)
    raster = payload[54:]
    assert len(raster) == 8  # 2 rows x (3 bytes + 1 pad byte to the 4-byte boundary)
    assert raster[:3] == bytes([60, 50, 40])  # bottom row first, BGR
    assert raster[3] == 0  # row padding
    assert raster[4:7] == bytes([30, 20, 10])  # then the top row, BGR


def test_bmp_negative_height_is_top_down():
    """A negative biHeight declares top-down rows (the DIB convention raw
    AVI frames share); the decoder returns the true height and pixels
    instead of a negative height over row-reversed pixels."""
    w, h = 5, 3
    px = _px(w, h, seed=4)
    header = bytearray(REF.encode_bmp(w, h, px)[:54])
    struct.pack_into("<i", header, 22, -h)
    dw, dh, _, out = MM.decode_bmp(bytes(header) + MM._dib_rows(px, top_down=True))
    assert (dw, dh) == (w, h) and np.array_equal(out, px)


def test_decode_image_real_dispatch():
    px = _px(4, 3)
    assert MM.decode_image_real(MM.encode_ppm(4, 3, px))["width"] == 4
    assert MM.decode_image_real(REF.encode_bmp(4, 3, px))["height"] == 3
    assert (MM.decode_image_real(MM.encode_png(4, 3, px))["pixels"] == px).all()
    assert MM.decode_image_real(MM.encode_jpeg(4, 3, px))["width"] == 4
    with pytest.raises(NotImplementedError):
        MM.decode_image_real(b"RIFF....AVI LIST")  # video — the remaining seam


@pytest.mark.parametrize("w,h", [(1, 1), (4, 7), (8, 8), (16, 14), (33, 9)])
def test_jpeg_roundtrip_within_tolerance(w, h):
    """Baseline JFIF round-trip: decoded dims exact; unit-quant loss (DCT
    coefficient rounding + two color-space roundings) bounded by the
    published JPEG_TOLERANCE. The fixture-pixel pattern plus random noise
    images (the worst case for DCT rounding) both stay under it."""
    px = _px(w, h)
    W, H, maxval, out = MM.decode_jpeg(MM.encode_jpeg(w, h, px))
    assert (W, H, maxval) == (w, h, 255)
    assert int(np.abs(out.astype(np.int64) - px.astype(np.int64)).max()) <= MM.JPEG_TOLERANCE
    rng = np.random.default_rng(w * 100 + h)
    noise = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    _, _, _, out2 = MM.decode_jpeg(MM.encode_jpeg(w, h, noise))
    assert int(np.abs(out2.astype(np.int64) - noise.astype(np.int64)).max()) <= MM.JPEG_TOLERANCE


def test_jpeg_container_is_real():
    """The payload is a genuine JFIF stream: SOI/APP0-JFIF lead, EOI
    trailer, and the decoder builds Huffman codes from the DHT segments —
    stripping DHT must fail decode, not fall back to module constants."""
    data = MM.encode_jpeg(6, 5, _px(6, 5))
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert data[2:4] == b"\xff\xe0" and data[6:11] == b"JFIF\x00"
    # excise every DHT segment (marker 0xFFC4)
    import struct as _struct

    out, pos = bytearray(data[:2]), 2
    while pos < len(data) - 2:
        marker, seg_len = data[pos + 1], _struct.unpack_from(">H", data, pos + 2)[0]
        if marker == 0xDA:
            out += data[pos:]
            break
        if marker != 0xC4:
            out += data[pos : pos + 2 + seg_len]
        pos += 2 + seg_len
    with pytest.raises((KeyError, ValueError)):
        MM.decode_jpeg(bytes(out))


def test_jpeg_unsupported_modes_raise():
    """Arithmetic coding (SOF9) and non-integer sampling ratios hit the
    documented NotImplementedError seam; a SOF2 frame whose scan is
    baseline-shaped (interleaved Ss=0..63 — illegal in progressive, the
    round-7 'flipped marker' stub) is refused as a corrupt stream, not
    misparsed. (4:2:0/4:2:2 decode natively since round 7; REAL
    progressive streams decode natively since round 8 — see
    test_jpeg_progressive_equals_baseline.)"""
    data = bytearray(MM.encode_jpeg(6, 5, _px(6, 5)))
    sof = data.find(b"\xff\xc0")
    arith = bytearray(data)
    arith[sof + 1] = 0xC9  # SOF0 -> SOF9 (arithmetic sequential)
    with pytest.raises(NotImplementedError, match="SOF0"):
        MM.decode_jpeg(bytes(arith))
    flipped = bytearray(data)
    flipped[sof + 1] = 0xC2  # SOF2 frame, but the scan stays baseline-shaped
    with pytest.raises(ValueError, match="DC-only"):
        MM.decode_jpeg(bytes(flipped))
    weird = bytearray(data)
    weird[sof + 11] = 0x32  # Y sampling 3x2: 3 % 2 != 0 against Cb/Cr 1x1? no —
    weird[sof + 14] = 0x21  # Cb 2x1: hmax=3, 3 % 2 != 0 -> non-integer ratio
    with pytest.raises(NotImplementedError, match="non-integer"):
        MM.decode_jpeg(bytes(weird))


@pytest.mark.parametrize("w,h,sub", [(1, 1, "444"), (4, 7, "444"), (16, 14, "444"),
                                     (33, 9, "444"), (16, 16, "420"), (17, 9, "420")])
def test_jpeg_progressive_equals_baseline(w, h, sub):
    """Progressive (SOF2, 8-scan successive approximation) decodes to
    pixels EXACTLY equal to the baseline encoding of the same image:
    the point transform + refinement chain is lossless once fully
    refined, so the two streams carry identical coefficients — a far
    stronger invariant than the lossy tolerance bound."""
    px = MM._fixture_pixels_420(w * 100 + h, w, h) if sub == "420" else _px(w, h, seed=w + h)
    base = MM.encode_jpeg(w, h, px, subsampling=sub)
    prog = MM.encode_jpeg(w, h, px, subsampling=sub, progressive=True)
    assert prog[2:4] != base[2:4] or b"\xff\xc2" in prog  # really SOF2
    assert b"\xff\xc2" in prog and b"\xff\xc0" not in prog
    assert prog.count(b"\xff\xda") >= 8  # multi-scan, not a relabeled baseline
    _, _, _, bout = MM.decode_jpeg(base)
    dw, dh, maxval, pout = MM.decode_jpeg(prog)
    assert (dw, dh, maxval) == (w, h, 255)
    assert np.array_equal(bout, pout)
    err = int(np.abs(pout.astype(np.int64) - px.astype(np.int64)).max())
    assert err <= MM.JPEG_TOLERANCE


@pytest.mark.parametrize("sub,ri", [("444", 0), ("444", 2), ("420", 0)])
def test_jpeg_per_scan_dht_tables(sub, ri):
    """Real-world progressive streams (libjpeg's optimized-coding
    default) emit DHT segments BETWEEN SOS markers that redefine table
    ids per scan. The decoder must decode each scan against the tables
    in effect at ITS OWN SOS — snapshotted like the restart interval —
    not the stream's final tables; otherwise these streams silently
    misdecode (or raise) despite being spec-valid."""
    w, h = 19, 13
    px = MM._fixture_pixels_420(w * 100 + h, w, h) if sub == "420" else _px(w, h, seed=5)
    base = MM.encode_jpeg(w, h, px, subsampling=sub)
    prog = MM.encode_jpeg(
        w, h, px, subsampling=sub, progressive=True, restart_interval=ri, per_scan_dht=True
    )
    # structural proof the fixture has power: DHT segments appear AFTER
    # the first SOS (0xFF in entropy data is always stuffed/RST, so the
    # raw marker bytes can't be false positives), and the two alternated
    # tables genuinely assign different codes to the same alphabet
    first_sos = prog.find(b"\xff\xda")
    assert prog.find(b"\xff\xc4", first_sos) != -1
    assert MM._AC_SYMBOLS_ALT != MM._AC_SYMBOLS
    assert sorted(MM._AC_SYMBOLS_ALT) == sorted(MM._AC_SYMBOLS)
    _, _, _, bout = MM.decode_jpeg(base)
    dw, dh, maxval, pout = MM.decode_jpeg(prog)
    assert (dw, dh, maxval) == (w, h, 255)
    assert np.array_equal(bout, pout)  # per-scan snapshots: still EXACT


def test_jpeg_progressive_eob_runs_decode():
    """A mostly-empty image makes the AC first passes emit multi-block
    EOB runs (EOBn, r > 0) and the refinement passes carry buffered
    correction bits across those runs — the Annex-G paths a busy image
    never reaches. Constant image -> every AC band empty."""
    px = np.full((32, 48, 3), 77, np.uint8)
    prog = MM.encode_jpeg(48, 32, px, progressive=True)
    _, _, _, out = MM.decode_jpeg(prog)
    assert int(np.abs(out.astype(np.int64) - px.astype(np.int64)).max()) <= MM.JPEG_TOLERANCE
    # dispatch seam: progressive flows through decode_image_real like any JPEG
    d = MM.decode_image_real(MM.encode_jpeg(16, 16, _px(16, 16), progressive=True))
    assert (d["width"], d["height"]) == (16, 16)


def test_jpeg_420_roundtrip():
    """4:2:0 (H2V2) encode -> decode round-trips the 2x2-block-constant
    fixture within the same JPEG_TOLERANCE as 4:4:4: the encoder's 2x2
    chroma mean and the decoder's replication upsample are exact
    inverses on chroma-aligned content, leaving only DCT + color
    rounding. Odd dims exercise the MCU edge-padding path."""
    import numpy as np

    for w, h in [(6, 5), (16, 16), (17, 9), (33, 31), (8, 24)]:
        px = MM._fixture_pixels_420(4242, w, h)
        dw, dh, maxval, out = MM.decode_jpeg(MM.encode_jpeg(w, h, px, subsampling="420"))
        assert (dw, dh, maxval) == (w, h, 255)
        err = int(np.abs(out.astype(np.int64) - px.astype(np.int64)).max())
        assert err <= MM.JPEG_TOLERANCE, (w, h, err)
    # header really declares 4:2:0 (Y sampling byte 0x22), and
    # decode_image_real dispatches it like any other JPEG
    payload = MM.encode_jpeg(16, 16, MM._fixture_pixels_420(7, 16, 16), subsampling="420")
    sof = payload.find(b"\xff\xc0")
    assert payload[sof + 11] == 0x22
    d = MM.decode_image_real(payload)
    assert (d["width"], d["height"]) == (16, 16)


@pytest.mark.parametrize("w,h", [(1, 1), (4, 7), (16, 14), (33, 9)])
def test_png_roundtrip_all_filters(w, h):
    """encode_png cycles scanline filters per row (r % 5), so any image
    with h >= 5 exercises None/Sub/Up/Average/Paeth; the decoder must
    inflate + defilter back to the exact pixels."""
    px = _px(w, h)
    W, H, maxval, out = MM.decode_png(MM.encode_png(w, h, px))
    assert (W, H, maxval) == (w, h, 255)
    assert (out == px).all()


def test_png_chunk_crc_verified():
    payload = bytearray(MM.encode_png(4, 6, _px(4, 6)))
    payload[20] ^= 0xFF  # flip a bit inside IHDR
    with pytest.raises(ValueError, match="CRC"):
        MM.decode_png(bytes(payload))


def test_png_unsupported_shape_raises():
    import struct as _struct

    ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0)  # RGBA color type
    payload = MM.PNG_SIGNATURE + MM._png_chunk(b"IHDR", ihdr) + MM._png_chunk(b"IEND", b"")
    with pytest.raises(NotImplementedError):
        MM.decode_png(payload)


def test_render_decode_pipeline(spark):
    """Executor-side render → real decode: decoded dims/sums must equal
    the direct numpy computation for every doc."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    out = {r["doc_id"]: r for r in MM.decode_image_stats(MM.render_ppm_payloads(docs)).collect()}
    for doc_id in [r["doc_id"] for r in docs.select("doc_id").collect()]:
        w, h = MM._fixture_dims(doc_id)
        px = MM._fixture_pixels(doc_id, w, h).astype(np.int64)
        row = out[doc_id]
        assert (row["width"], row["height"], row["maxval"]) == (w, h, 255)
        assert row["pixel_sum"] == px.sum()
        assert row["r_sum"] == px[:, :, 0].sum()
        assert row["b_sum"] == px[:, :, 2].sum()


def test_binary_dir_ingest_matches_column_route(spark, tmp_path):
    """Raw-file ingest seam (sources.read_binary_dir): a directory of
    opaque image FILES read through Spark's binaryFile source must feed
    the same mapInPandas decode plumbing as parquet binary columns and
    produce identical per-image stats. Also pins the two source
    behaviors the ingest relies on: pathGlobFilter prunes non-matching
    files before any bytes are read into rows, and content arrives
    unsplit (codec payloads are not record-splittable)."""
    from pyspark.sql import functions as F

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import read_binary_dir

    want = {}
    for doc_id in range(6):
        w, h = 5 + doc_id, 4 + (doc_id % 3)
        px = _px(w, h, seed=doc_id).astype(np.int64)
        payload = MM.encode_ppm(w, h, px.astype(np.uint8))
        (tmp_path / f"img_{doc_id}.ppm").write_bytes(payload)
        want[doc_id] = (w, h, int(px.sum()))
    (tmp_path / "notes.txt").write_text("not an image")

    files = read_binary_dir(spark, str(tmp_path))
    assert files.count() == 6  # the .txt is pruned by the glob, not decoded
    ingested = files.select(
        F.regexp_extract("path", r"img_(\d+)\.ppm$", 1).cast("long").alias("doc_id"),
        F.col("content").alias("img"),
    )
    out = {r["doc_id"]: r for r in MM.decode_image_stats(ingested).collect()}
    assert set(out) == set(want)
    for doc_id, (w, h, s) in want.items():
        row = out[doc_id]
        assert (row["width"], row["height"], row["pixel_sum"]) == (w, h, s)


def test_stage_ppm_ingest_dir_idempotent(spark, tmp_path):
    """The mm_suite binary_ingest fixture generator: stages one real .ppm
    per row executor-side, byte-complete (on-disk size = header +
    w*h*3), and the staging is marker-gated so repeat calls (every
    driver/bench run) never rewrite the directory."""
    import os

    docs = spark.createDataFrame([(i,) for i in (0, 7, 23)], "doc_id long")
    path = str(tmp_path / "ingest")
    MM.stage_ppm_ingest_dir(docs, path)
    names = sorted(f for f in os.listdir(path) if f.endswith(".ppm"))
    assert names == ["0.ppm", "23.ppm", "7.ppm"]
    for i in (0, 7, 23):
        w, h = MM._fixture_dims(i)
        payload = open(os.path.join(path, f"{i}.ppm"), "rb").read()
        assert len(payload) == len(f"P6\n{w} {h}\n255\n") + w * h * 3
        dw, dh, _, px = MM.decode_ppm(payload)
        assert (dw, dh) == (w, h)
        assert (px == MM._fixture_pixels(i, w, h)).all()
    # idempotent: second call leaves mtimes untouched (marker short-circuit)
    mtimes = {f: os.path.getmtime(os.path.join(path, f)) for f in names}
    MM.stage_ppm_ingest_dir(docs, path)
    assert mtimes == {f: os.path.getmtime(os.path.join(path, f)) for f in names}


def test_stage_ppm_ingest_dir_restages_on_id_set_change(spark, tmp_path):
    """ADVICE r7: the idempotence marker is keyed by the doc-id SET
    (count + xxhash64 fold), not the count — a same-count-but-different
    set re-stages, and stale .ppm files from the previous set are
    cleared so the '*.ppm' glob can never ingest them."""
    import os

    path = str(tmp_path / "ingest")
    MM.stage_ppm_ingest_dir(spark.createDataFrame([(i,) for i in (0, 7, 23)], "doc_id long"), path)
    # same count, different ids: must re-stage, and 23.ppm must be gone
    MM.stage_ppm_ingest_dir(spark.createDataFrame([(i,) for i in (0, 7, 31)], "doc_id long"), path)
    names = sorted(f for f in os.listdir(path) if f.endswith(".ppm"))
    assert names == ["0.ppm", "31.ppm", "7.ppm"]
    # shrink: stale ids cleared again
    MM.stage_ppm_ingest_dir(spark.createDataFrame([(7,)], "doc_id long"), path)
    names = sorted(f for f in os.listdir(path) if f.endswith(".ppm"))
    assert names == ["7.ppm"]


def test_grayscale_jpeg_refuses_at_seam():
    """ADVICE r7: a 1-component (grayscale) baseline JPEG passes the
    scan/sampling guards but must refuse with the documented
    NotImplementedError codec seam, not crash with IndexError."""
    import struct

    def seg(m, p):
        return struct.pack(">HH", m, len(p) + 2) + p

    gray = (
        b"\xff\xd8"
        + seg(0xFFDB, bytes([0x00]) + bytes([1] * 64))
        + seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + seg(0xFFC4, bytes([0x00]) + bytes(MM._DC_BITS) + bytes(MM._DC_SYMBOLS))
        + seg(0xFFC4, bytes([0x10]) + bytes(MM._AC_BITS) + bytes(MM._AC_SYMBOLS))
        + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + b"\x00" * 8
        + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError, match="3-component"):
        MM.decode_jpeg(gray)


def test_safe_decode_quarantines_bad_payloads_without_killing_job(spark):
    """VERDICT r7 item 1: one corrupt / unsupported payload among good
    ones must not fail the stage. safe=True completes the job, decodes
    the good rows to the exact same stats as strict mode, and surfaces
    each planted failure as status='quarantined:<ExcClass>' with a
    non-empty error message. Strict mode on the same batch raises."""
    ids = [(i,) for i in (0, 10, 20, 30, 40, 60, 70)]  # 0/30/60 planted bad
    docs = spark.createDataFrame(ids, "doc_id long")
    rendered = MM.render_quarantine_payloads(docs)
    rows = {r["doc_id"]: r for r in MM.decode_image_stats(rendered, safe=True).collect()}
    assert len(rows) == 7  # every payload produced a row — nothing dropped
    assert rows[0]["status"] == "quarantined:ValueError"  # truncated PPM
    assert rows[30]["status"] == "quarantined:NotImplementedError"  # arithmetic-coded
    assert rows[60]["status"] == "quarantined:NotImplementedError"  # unknown magic
    for bad in (0, 30, 60):
        assert rows[bad]["error"], "quarantined row must carry the error string"
        assert rows[bad]["pixel_sum"] is None
    for good in (10, 20, 40, 70):
        w, h = MM._fixture_dims(good)
        assert rows[good]["status"] == "ok" and rows[good]["error"] is None
        assert (rows[good]["width"], rows[good]["height"]) == (w, h)
        assert rows[good]["pixel_sum"] == int(
            MM._fixture_pixels(good, w, h).astype("int64").sum()
        )
    # strict mode: the same planted batch kills the job (by design)
    with pytest.raises(Exception):
        MM.decode_image_stats(rendered, safe=False).collect()


def test_quarantine_summary_rollup(spark):
    """VERDICT r8 item 7: quarantine_summary aggregates a safe-decode
    output into per-status counts + shares + a deterministic example
    error — the one-pass rate observable a 100 TB ingest watches. Counts
    and shares must reconcile exactly with the planted failure classes."""
    ids = [(i,) for i in (0, 10, 20, 30, 40, 60, 70)]  # 0/30/60 planted bad
    docs = spark.createDataFrame(ids, "doc_id long")
    stats = MM.decode_image_stats(MM.render_quarantine_payloads(docs), safe=True)
    rows = {r["status"]: r for r in MM.quarantine_summary(stats).collect()}
    assert set(rows) == {"ok", "quarantined:ValueError", "quarantined:NotImplementedError"}
    assert rows["ok"]["n_docs"] == 4
    assert rows["quarantined:ValueError"]["n_docs"] == 1
    assert rows["quarantined:NotImplementedError"]["n_docs"] == 2
    assert abs(rows["ok"]["share"] - 4 / 7) < 1e-12
    assert abs(sum(r["share"] for r in rows.values()) - 1.0) < 1e-12
    assert rows["ok"]["example_error"] is None
    for bad in ("quarantined:ValueError", "quarantined:NotImplementedError"):
        assert rows[bad]["example_error"]  # non-empty triage string


def _has_pillow() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _has_pillow(), reason="Pillow not installed (production decode adapter)")
def test_pillow_adapter_decodes_what_native_quarantines(spark):
    """Skip-clean like tests/test_hdfs.py: where Pillow exists, the
    Pillow reference decoder decodes media classes the native numpy
    codecs quarantine (here: GIF — unknown magic natively), and on
    formats both speak (PPM) the two decoders agree exactly."""
    import io

    from PIL import Image

    im = Image.new("RGB", (5, 4))
    im.putdata([(i % 256, (3 * i) % 256, (7 * i) % 256) for i in range(20)])
    buf = io.BytesIO()
    im.save(buf, format="GIF")
    gif = buf.getvalue()
    # native: quarantined (unknown magic); pillow: decoded
    d = REF.decode_image_pillow(gif)
    assert (d["width"], d["height"]) == (5, 4)
    df = spark.createDataFrame([(1, bytearray(gif))], "doc_id long, img binary")
    native = MM.decode_image_stats(df, safe=True).collect()[0]
    assert native["status"].startswith("quarantined:")
    # cross-backend agreement on a format both decode natively
    ppm = MM.encode_ppm(5, 4, MM._fixture_pixels(7, 5, 4))
    assert REF.decode_image_pillow(ppm)["pixels"].tolist() == MM.decode_image_real(ppm)["pixels"].tolist()


def test_y4m_roundtrip_and_seams():
    """Native YUV4MPEG2 codec: encode -> decode round-trips every plane
    byte exactly (raw container, zero lossy math); header parameters in
    any order parse; FRAME lines with their own parameters parse;
    chroma-subsampled streams refuse at the declared seam; truncated
    frames and missing markers fail loudly."""
    w, h, n = MM._y4m_fixture_geom(37)
    frames = MM._y4m_fixture_frames(37, w, h, n)
    data = MM.encode_y4m(w, h, frames)
    assert data.startswith(b"YUV4MPEG2 ") and data.count(b"FRAME\n") == n
    dw, dh, out = MM.decode_y4m(data)
    assert (dw, dh) == (w, h) and np.array_equal(out, frames)
    # exact container size: ASCII header + n * (6-byte FRAME line + planes)
    header = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()
    assert len(data) == len(header) + n * (6 + 3 * w * h)
    # parameter order freedom + FRAME-line parameters (spec-legal)
    reordered = b"YUV4MPEG2 C444 H2 W3 F30:1\n" + b"FRAME Xtag\n" + bytes(18)
    dw, dh, out = MM.decode_y4m(reordered)
    assert (dw, dh, out.shape) == (3, 2, (1, 3, 6))
    with pytest.raises(NotImplementedError, match="C420"):
        MM.decode_y4m(b"YUV4MPEG2 W2 H2\n" + b"FRAME\n" + bytes(12))  # default C420
    with pytest.raises(ValueError, match="truncated"):
        MM.decode_y4m(data[:-1])
    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        MM.decode_y4m(b"RIFFxxxx")
    with pytest.raises(ValueError, match="no frames"):
        MM.decode_y4m(header)


def test_resize_nn_kernel_and_stats(spark, monkeypatch):
    """resize_nn: identity when dims fit the box; exact NN index math on
    downscale (checked against a hand-rolled reference); no-upscale fit
    geometry; and resized_image_stats' sums recomputed independently."""
    px = MM._fixture_pixels(9, 16, 10)  # (h=10, w=16, 3)
    monkeypatch.setattr(MM, "RESIZE_STAGE_BOX", 16)
    assert MM.resize_fit(16, 10) == (16, 10)  # fits: identity
    monkeypatch.setattr(MM, "RESIZE_STAGE_BOX", 8)
    assert MM.resize_fit(16, 10) == (8, 5)
    assert MM.resize_fit(3, 300) == (1, 8)  # extreme aspect floors at 1
    out = MM.resize_nn(px, 8, 5)
    ref = np.array(
        [[px[(oy * 10) // 5, (ox * 16) // 8] for ox in range(8)] for oy in range(5)]
    )
    assert out.shape == (5, 8, 3) and np.array_equal(out, ref)
    assert np.array_equal(MM.resize_nn(px, 16, 10), px)  # identity geometry
    ids = [0, 3, 7, 12]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = {
        r["doc_id"]: r
        for r in MM.resized_image_stats(MM.render_ppm_payloads(docs)).collect()
    }
    for i in ids:
        w, h = MM._fixture_dims(i)
        ow, oh = MM.resize_fit(w, h)
        resized = MM.resize_nn(MM._fixture_pixels(i, w, h), ow, oh).astype("int64")
        r = rows[i]
        assert (r["width"], r["height"], r["resized_w"], r["resized_h"]) == (w, h, ow, oh)
        assert r["pixel_sum"] == int(resized.sum())
        assert (r["r_sum"], r["g_sum"], r["b_sum"]) == tuple(
            int(resized[:, :, c].sum()) for c in range(3)
        )


def test_wav_roundtrip_and_seams():
    """Native RIFF/PCM codec: encode -> decode round-trips every sample
    exactly for mono and stereo; the chunk walk survives interleaved
    LIST chunks and odd-size padding (real writers emit both); non-PCM
    and truncated payloads fail at the declared seams."""
    for doc_id in (0, 1, 14, 37):
        rate, ch, n = MM._wav_fixture_geom(doc_id)
        samples = MM._wav_fixture_samples(doc_id, ch, n)
        data = MM.encode_wav(rate, samples)
        assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
        assert len(data) == 44 + 2 * ch * n  # canonical header + s16le frames
        drate, out = MM.decode_wav(data)
        assert drate == rate and np.array_equal(out, samples)
    # chunk walk: inject an odd-sized LIST chunk (with pad byte) between
    # fmt and data — parser must skip it and still find both
    rate, ch, n = 8000, 2, 5
    samples = MM._wav_fixture_samples(3, ch, n)
    data = MM.encode_wav(rate, samples)
    fmt_end = 12 + 8 + 16
    spliced = (
        data[:4]
        + int.to_bytes(len(data) - 8 + 8 + 3 + 1, 4, "little")
        + data[8:fmt_end]
        + b"LIST" + int.to_bytes(3, 4, "little") + b"abc\x00"  # odd size + pad
        + data[fmt_end:]
    )
    drate, out = MM.decode_wav(spliced)
    assert drate == rate and np.array_equal(out, samples)
    # seams: PERCEPTUAL audio refuses (G.711 decodes natively since
    # round 10; float/ADPCM since round 11, FLAC since round 12);
    # truncation and bad magic fail loudly
    bad_fmt = bytearray(data)
    bad_fmt[20] = 0x55  # fmt tag 0x55 = MPEG Layer 3 in WAV
    with pytest.raises(NotImplementedError, match="PERCEPTUAL"):
        MM.decode_wav(bytes(bad_fmt))
    with pytest.raises(ValueError, match="truncated"):
        MM.decode_wav(data[:-1])
    with pytest.raises(ValueError, match="RIFF"):
        MM.decode_wav(b"OggS" + data[4:])


def test_audio_features_exact(spark):
    """audio_features over rendered WAVs: every emitted integer
    recomputed independently in numpy — byte length, duration,
    per-channel sums (ch1 NULL for mono), L1 energy."""
    ids = [0, 1, 10, 37]  # mixes mono (even) and stereo (odd)... geom: ch = 1 + id % 2
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = {r["doc_id"]: r for r in MM.audio_features(REF.render_wav_payloads(docs)).collect()}
    for i in ids:
        rate, ch, n = MM._wav_fixture_geom(i)
        s = MM._wav_fixture_samples(i, ch, n).astype("int64")
        r = rows[i]
        assert (r["sample_rate"], r["n_channels"], r["n_samples"]) == (rate, ch, n)
        assert r["byte_len"] == 44 + 2 * ch * n
        assert r["duration_us"] == n * 1_000_000 // rate
        assert r["ch0_sum"] == int(s[:, 0].sum())
        assert r["ch1_sum"] == (int(s[:, 1].sum()) if ch > 1 else None)
        assert r["abs_sum"] == int(np.abs(s).sum())


def test_av_safe_mode_quarantines_bad_containers(spark):
    """audio_features/adpcm_roundtrip_check/video_frame_stats(safe=True)
    carry the same quarantine contract as the image path: planted bad
    containers (MP3-in-WAV, truncated WAV, a WAV declaring a zero sample
    rate, chroma-subsampled Y4M, alien magic) become status rows with
    the exception class while good neighbors keep strict-mode-identical
    features; strict mode still raises; and quarantine_summary rolls
    both outputs up unchanged. A zero rate must be refused by the
    decoder: the duration feature divides by it outside the quarantine
    boundary, so a decoded rate of 0 would fail the whole job."""
    rate, ch, n = MM._wav_fixture_geom(4)
    samples = MM._wav_fixture_samples(4, ch, n)
    good_wav = MM.encode_wav(rate, samples)
    mp3_wav = bytearray(good_wav)
    mp3_wav[20] = 0x55  # format tag 0x55 = MPEG Layer 3: entropy-coded
    wavs = spark.createDataFrame(
        [(1, bytearray(good_wav)), (2, bytearray(bytes(mp3_wav))),
         (3, bytearray(good_wav[:-3])), (4, bytearray(b"OggS" + b"\0" * 40)),
         (5, bytearray(MM.encode_wav(0, samples)))],
        "doc_id long, audio binary",
    )
    rows = {r["doc_id"]: r for r in MM.audio_features(wavs, safe=True).collect()}
    assert rows[1]["status"] == "ok" and rows[1]["abs_sum"] is not None
    assert rows[2]["status"] == "quarantined:NotImplementedError"
    assert rows[3]["status"] == "quarantined:ValueError"
    assert rows[4]["status"] == "quarantined:ValueError"
    assert rows[5]["status"] == "quarantined:ValueError"
    assert "zero sample rate" in rows[5]["error"]
    assert all(rows[i]["abs_sum"] is None and rows[i]["error"] for i in (2, 3, 4, 5))
    with pytest.raises(Exception):
        MM.audio_features(wavs, safe=False).collect()
    summary = {r["status"]: r["n_docs"] for r in MM.quarantine_summary(
        MM.audio_features(wavs, safe=True)).collect()}
    assert summary == {"ok": 1, "quarantined:NotImplementedError": 1,
                       "quarantined:ValueError": 3}

    tri = MM._adpcm_fixture_samples(4, ch, n)
    adpcm = spark.createDataFrame(
        [(4, bytearray(MM.encode_wav_adpcm(rate, tri))),
         (5, bytearray(MM.encode_wav_adpcm(0, tri)))],
        "doc_id long, audio binary",
    )
    arows = {r["doc_id"]: r for r in MM.adpcm_roundtrip_check(adpcm, safe=True).collect()}
    assert arows[4]["status"] == "ok" and arows[4]["decode_ok"] is True
    assert arows[5]["status"] == "quarantined:ValueError"
    assert arows[5]["duration_us"] is None and "zero sample rate" in arows[5]["error"]

    w, h, nf = MM._y4m_fixture_geom(7)
    good_y4m = MM.encode_y4m(w, h, MM._y4m_fixture_frames(7, w, h, nf))
    c420 = b"YUV4MPEG2 W4 H4\n" + b"FRAME\n" + bytes(24)
    vids = spark.createDataFrame(
        [(1, bytearray(good_y4m)), (2, bytearray(c420)),
         (3, bytearray(good_y4m[:-1])), (4, bytearray(b"RIFF" + b"\0" * 20))],
        "doc_id long, video binary",
    )
    vrows = {r["doc_id"]: r for r in MM.video_frame_stats(vids, safe=True).collect()}
    assert vrows[1]["status"] == "ok" and vrows[1]["y_sum"] is not None
    assert vrows[2]["status"] == "quarantined:NotImplementedError"
    assert vrows[3]["status"] == "quarantined:ValueError"
    assert vrows[4]["status"] == "quarantined:ValueError"
    with pytest.raises(Exception):
        MM.video_frame_stats(vids, safe=False).collect()


def test_video_frame_stats_samples_and_sums(spark):
    """video_frame_stats over rendered Y4M containers: exact byte
    length, geometry, stride-sampled frame list, and per-plane sums
    recomputed independently in numpy for every doc."""
    ids = [0, 3, 10, 37]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = {
        r["doc_id"]: r
        for r in MM.video_frame_stats(MM.render_y4m_payloads(docs)).collect()
    }
    assert set(rows) == set(ids)
    for i in ids:
        w, h, n = MM._y4m_fixture_geom(i)
        frames = MM._y4m_fixture_frames(i, w, h, n)
        kept = frames[:: MM.FRAME_STRIDE].astype("int64")
        r = rows[i]
        assert (r["width"], r["height"], r["n_frames"]) == (w, h, n)
        assert r["byte_len"] == len(MM.encode_y4m(w, h, frames))
        assert r["sampled_frames"] == ",".join(
            str(f) for f in range(0, n, MM.FRAME_STRIDE)
        )
        assert (r["y_sum"], r["cb_sum"], r["cr_sum"]) == (
            int(kept[:, 0].sum()), int(kept[:, 1].sum()), int(kept[:, 2].sum())
        )


def test_arithmetic_stub_is_structurally_arithmetic():
    """The quarantine fixture's arithmetic-coded stream must carry a
    real SOF9 frame marker (not a corrupted byte soup): a marker walk
    finds SOF9 and no SOF0/SOF2, and decode refuses at the seam."""
    w, h = MM._fixture_dims(30)
    data = MM.encode_arithmetic_stub(w, h, MM._fixture_pixels(30, w, h))
    assert b"\xff\xc9" in data and b"\xff\xc0" not in data and b"\xff\xc2" not in data
    assert data[:2] == b"\xff\xd8"
    with pytest.raises(NotImplementedError):
        MM.decode_jpeg(data)


@pytest.mark.parametrize("prog", [False, True])
def test_jpeg_restart_markers_roundtrip(prog):
    """DRI streams (the camera-JPEG resync layout) decode natively:
    restart_interval=k emits a DRI segment and byte-aligned RSTn markers
    every k MCUs/blocks with DC-predictor and EOB-run resets, and the
    decode is EXACTLY equal to the same image without restarts — a
    failed predictor reset would skew every post-marker DC value."""
    px = _px(33, 17, seed=5)
    ref = MM.decode_jpeg(MM.encode_jpeg(33, 17, px, progressive=prog))[3]
    for ri in (1, 2, 5):
        data = MM.encode_jpeg(33, 17, px, progressive=prog, restart_interval=ri)
        assert b"\xff\xdd" in data and b"\xff\xd0" in data  # DRI + RST0 present
        _, _, _, out = MM.decode_jpeg(data)
        assert np.array_equal(ref, out), (prog, ri)
    # 4:2:0 with restarts, for the MCU-grid-vs-true-extent interaction
    px420 = MM._fixture_pixels_420(3, 33, 17)
    ref420 = MM.decode_jpeg(MM.encode_jpeg(33, 17, px420, subsampling="420", progressive=prog))[3]
    out420 = MM.decode_jpeg(
        MM.encode_jpeg(33, 17, px420, subsampling="420", progressive=prog, restart_interval=2)
    )[3]
    assert np.array_equal(ref420, out420)


def test_jpeg_misnumbered_restart_marker_rejected():
    """RSTn markers must cycle 0..7; a stream whose first restart marker
    carries the wrong index is corrupt and must fail loudly (quarantine
    class ValueError), not desynchronize silently."""
    data = MM.encode_jpeg(33, 17, _px(33, 17), restart_interval=1)
    bad = data.replace(b"\xff\xd0", b"\xff\xd4", 1)  # RST0 -> RST4
    with pytest.raises(ValueError, match="RST"):
        MM.decode_jpeg(bad)


def test_avi_mjpeg_roundtrip_and_seams():
    """Round 10 (VERDICT r9 item 5): the MJPEG-in-AVI compressed-video
    container. Encode real AVIs (RIFF hdrl/movi/idx1, per-frame baseline
    JPEG), decode by composing the RIFF walk with decode_jpeg, and pin:
    geometry + frame count exact, every frame within JPEG_TOLERANCE of
    its arithmetic reference, word-alignment padding actually exercised
    (odd-size JPEG chunks), and the declared seams — non-MJPG fourcc
    raises NotImplementedError (the inter-frame-codec boundary),
    truncation and frame/header dim mismatch raise ValueError."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import multimodal as MM

    saw_odd_chunk = False
    for d in (0, 3, 7, 12, 40, 100):
        w, h, n = MM._mjpeg_fixture_geom(d)
        jpegs = [MM.encode_jpeg(w, h, MM._mjpeg_fixture_frame(d, f, w, h)) for f in range(n)]
        saw_odd_chunk = saw_odd_chunk or any(len(j) % 2 for j in jpegs)
        avi = MM.encode_avi_mjpeg(w, h, jpegs)
        W, H, frames = MM.decode_avi_mjpeg(avi)
        assert (W, H, len(frames)) == (w, h, n)
        for f in range(n):
            ref = MM._mjpeg_fixture_frame(d, f, w, h).astype("int64")
            err = int(abs(frames[f].astype("int64") - ref).max())
            assert err <= MM.JPEG_TOLERANCE, (d, f, err)
    assert saw_odd_chunk, "fixture never produced an odd-size frame chunk — pad path untested"

    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="MJPEG-in-AVI"):
        MM.decode_avi_mjpeg(avi.replace(b"MJPG", b"H264"))
    with _pytest.raises(ValueError):
        MM.decode_avi_mjpeg(avi[:40])
    with _pytest.raises(ValueError, match="not a RIFF/AVI"):
        MM.decode_avi_mjpeg(b"RIFF\x00\x00\x00\x00WAVE")


def _avi_with_audio_stream(w, h, jpegs, audio_first=False, vids_strf_size=None):
    """Rebuild an MJPEG AVI with a SECOND strl describing a PCM audio
    stream (strh fccType 'auds', strf = 16-byte WAVEFORMAT) — the common
    webcam/capture layout. Reuses encode_avi_mjpeg's vids headers
    verbatim; hdrl gains the audio strl (and dwStreams=2). When the
    audio strl comes FIRST, the video stream's number is 1 per the AVI
    spec, so movi/idx1 are rebuilt with '01dc' chunk ids — the layout a
    real audio-first capture writes (ADVICE r11)."""
    import struct

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import multimodal as MM

    base = MM.encode_avi_mjpeg(w, h, jpegs)

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(kind, body):
        return chunk(b"LIST", kind + body)

    # pull avih / vids strh / vids strf back out of the encoder's output
    pieces = {}
    for cid, at, sz in MM._riff_chunks(base, 12, len(base)):
        if cid == b"LIST" and base[at : at + 4] == b"hdrl":
            for c2, b2, s2 in MM._riff_chunks(base, at + 4, at + sz):
                if c2 == b"avih":
                    pieces["avih"] = base[b2 : b2 + s2]
                elif c2 == b"LIST":
                    for c3, b3, s3 in MM._riff_chunks(base, b2 + 4, b2 + s2):
                        pieces[c3] = base[b3 : b3 + s3]
            tail = base[at + sz + (sz & 1) :]  # movi + idx1, byte-identical
    avih = bytearray(pieces["avih"])
    struct.pack_into("<I", avih, 24, 2)  # dwStreams = 2
    aud_strh = b"auds" + b"\x00" * 4 + struct.pack(
        "<IHHIIIIIIII4H", 0, 0, 0, 0, 1, 8000, 0, 8000, 16000, 0xFFFFFFFF, 2,
        0, 0, 0, 0,
    )
    # 16-byte WAVEFORMAT: PCM, 2ch, 8 kHz — bytes +16..+20 don't exist,
    # and +16 of a padded read would be the next chunk's fourcc
    aud_strf = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    vids_strf = pieces[b"strf"][: vids_strf_size] if vids_strf_size else pieces[b"strf"]
    vids_strl = lst(b"strl", chunk(b"strh", pieces[b"strh"]) + chunk(b"strf", vids_strf))
    auds_strl = lst(b"strl", chunk(b"strh", aud_strh) + chunk(b"strf", aud_strf))
    strls = auds_strl + vids_strl if audio_first else vids_strl + auds_strl
    hdrl = lst(b"hdrl", chunk(b"avih", bytes(avih)) + strls)
    if audio_first:
        # video is stream 1 now — rebuild movi/idx1 with '01dc' ids
        vtag = b"01dc"
        movi_body = b"movi"
        idx_entries = []
        for f in jpegs:
            idx_entries.append(struct.pack("<4sII I", vtag, 0x10, len(movi_body), len(f)))
            movi_body += chunk(vtag, f)
        tail = (
            b"LIST" + struct.pack("<I", len(movi_body)) + movi_body
            + chunk(b"idx1", b"".join(idx_entries))
        )
    body = b"AVI " + hdrl + tail
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_avi_mjpeg_with_audio_stream():
    """ADVICE r10 (medium): a valid MJPEG AVI that ALSO carries an audio
    stream must decode — the audio strl's strf is a WAVEFORMAT whose
    bytes at +16 are NOT a biCompression field, so capturing compression
    from every strf wrongly rejected the file as an inter-frame codec.
    Pinned in both strl orders (video-first is the common layout; the
    audio-first order is legal too), plus the new bounds check: a vids
    strf too short to carry biCompression raises ValueError instead of
    slicing garbage."""
    import pytest as _pytest

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import multimodal as MM

    d = 7
    w, h, n = MM._mjpeg_fixture_geom(d)
    jpegs = [MM.encode_jpeg(w, h, MM._mjpeg_fixture_frame(d, f, w, h)) for f in range(n)]
    for audio_first in (False, True):
        avi = _avi_with_audio_stream(w, h, jpegs, audio_first=audio_first)
        W, H, frames = MM.decode_avi_mjpeg(avi)
        assert (W, H, len(frames)) == (w, h, n)
        ref = MM._mjpeg_fixture_frame(d, 0, w, h).astype("int64")
        assert int(abs(frames[0].astype("int64") - ref).max()) <= MM.JPEG_TOLERANCE

    with _pytest.raises(ValueError, match="BITMAPINFOHEADER"):
        MM.decode_avi_mjpeg(_avi_with_audio_stream(w, h, jpegs, vids_strf_size=12))


def test_ima_adpcm_codec():
    """Round 11: the IMA-ADPCM WAV codec (tag 0x11). The core expander
    is pinned bit-exact against CPython's audioop IMA state machine on
    random nibble streams; the container layer is pinned structurally —
    every block-header sample decodes VERBATIM (so a block-boundary or
    state-handoff bug is an exact mismatch, not a tolerance miss), a
    constant channel in a stereo stream decodes exactly constant (so a
    channel/word interleave slip is an exact mismatch), the fact chunk
    trims final-block padding to the true count, and the fixture-family
    round-trip error stays within ADPCM_TOLERANCE. Malformed geometry
    fails loudly."""
    import warnings

    rng = np.random.default_rng(13)
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            import audioop

            for _ in range(30):
                T = 2 * int(rng.integers(1, 200))
                nib = rng.integers(0, 16, size=T).astype(np.uint8)
                mine = MM._ima_decode_nibbles(nib[None, :], np.array([0]), np.array([0]))[0]
                packed = bytes(
                    (int(nib[i]) << 4) | int(nib[i + 1]) for i in range(0, T, 2)
                )  # audioop packs the FIRST sample in the HIGH nibble
                ref = np.frombuffer(audioop.adpcm2lin(packed, 2, None)[0], dtype="<i2")
                assert np.array_equal(mine, ref)
    except ImportError:
        pass  # 3.13+: the structural pins below still hold

    spb = MM.ADPCM_SAMPLES_PER_BLOCK
    for d in (0, 1, 3, 7, 12, 40, 100, 229):
        rate, ch, n = MM._wav_fixture_geom(d)
        ref = MM._adpcm_fixture_samples(d, ch, n)
        wav = MM.encode_wav_adpcm(rate, ref)
        blocks = (n + spb - 1) // spb
        assert len(wav) == 60 + blocks * 12 * ch, d  # container arithmetic
        r2, dec = MM.decode_wav(wav)
        assert r2 == rate and dec.shape == ref.shape, d  # fact trims padding
        err = int(np.abs(dec.astype(np.int64) - ref.astype(np.int64)).max())
        assert err <= MM.ADPCM_TOLERANCE, (d, err)
        # block-header samples are stored verbatim: exact at every
        # block start, for every channel
        starts = np.arange(0, n, spb)
        assert np.array_equal(dec[starts], ref[starts]), d

    # stereo interleave: a constant ch0 decodes EXACTLY constant (zero
    # diffs keep step 7 whose >>3 increment is 0) while ch1 sweeps
    n = 3 * spb
    stereo = np.stack(
        [np.full(n, -513, np.int16),
         MM._adpcm_fixture_samples(9, 1, n).reshape(-1)], axis=1,
    )
    _, dec = MM.decode_wav(MM.encode_wav_adpcm(8000, stereo))
    assert np.array_equal(dec[:, 0], stereo[:, 0])
    assert int(np.abs(dec[:, 1].astype(np.int64) - stereo[:, 1].astype(np.int64)).max()) \
        <= MM.ADPCM_TOLERANCE

    # trailing sub-block bytes: shrink the data-chunk size by one block
    # minus 4 so the chunk parses but no longer splits into whole blocks
    wav = bytearray(MM.encode_wav_adpcm(8000, stereo))
    data_at = bytes(wav).index(b"data")
    (dsz,) = struct.unpack_from("<I", wav, data_at + 4)
    struct.pack_into("<I", wav, data_at + 4, dsz - 4)
    with pytest.raises(ValueError, match="whole ADPCM blocks"):
        MM.decode_wav(bytes(wav[:-4]))
    bad = bytearray(MM.encode_wav_adpcm(8000, stereo))
    bad[32] = 200  # block_align low byte -> inconsistent geometry
    with pytest.raises(ValueError):
        MM.decode_wav(bytes(bad))
    with pytest.raises(ValueError, match="8k\\+1"):
        MM.encode_wav_adpcm(8000, stereo, spb=10)

    # ADVICE r11: spec-legal PADDED fmt (cbSize=4, 22-byte chunk) —
    # wSamplesPerBlock lives at offset 18 per WAVEFORMATEX (extension
    # follows cbSize@16); reading it at 20 grabbed the pad bytes and
    # rejected the file. The encoder writes a 20-byte fmt, so rebuild
    # with 2 trailing pad bytes and re-declare cbSize=4.
    wav = MM.encode_wav_adpcm(8000, stereo)
    fmt20 = bytearray(wav[20:40])
    struct.pack_into("<H", fmt20, 16, 4)  # cbSize: 2 -> 4
    padded = (
        wav[:16] + struct.pack("<I", 22) + bytes(fmt20) + b"\x00\x00" + wav[40:]
    )
    padded = b"RIFF" + struct.pack("<I", len(padded) - 8) + padded[8:]
    r3, dec3 = MM.decode_wav(padded)
    assert r3 == 8000 and np.array_equal(dec3, MM.decode_wav(wav)[1])


def test_float_wav_native_decode():
    """Round 11: IEEE-float WAV (tag 3) decodes natively — float32
    bit-exact on dyadic fixture values (every int16 is k/2^15), float64
    through the same dtype switch, and the quantizer rule for arbitrary
    floats is clamp(rint(v*2^15)) — round-half-even, ffmpeg's
    conversion — verified on exact half-way and out-of-range values."""
    rng = np.random.default_rng(3)
    x = rng.integers(-32768, 32768, size=3001 * 2).astype(np.int16).reshape(-1, 2)
    rate, out = MM.decode_wav(MM.encode_wav_f32(8000, x))
    assert rate == 8000 and np.array_equal(out, x)

    # float64 variant: hand-build the container (the writer emits f32)
    import struct as _struct

    f64 = (x.reshape(-1).astype(np.float64) / 65536.0).astype("<f8").tobytes()
    fmt = _struct.pack("<HHIIHH", 3, 2, 8000, 8000 * 16, 16, 64)
    body = b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
    body += b"data" + _struct.pack("<I", len(f64)) + f64
    rate, out64 = MM.decode_wav(b"RIFF" + _struct.pack("<I", len(body)) + body)
    # v = k/2^16 -> rint(v*2^15) = rint(k/2) = round-half-even
    expect = np.clip(np.rint(x.reshape(-1).astype(np.float64) / 2.0), -32768, 32767)
    assert np.array_equal(out64.reshape(-1), expect.astype(np.int16))

    # quantizer edges: half-way values round to even; out-of-range clamps
    edge = np.array([0.5 / 32768, 1.5 / 32768, -0.5 / 32768, 2.0, -2.0], dtype=np.float32)
    fmt = _struct.pack("<HHIIHH", 3, 1, 8000, 8000 * 4, 4, 32)
    body = b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
    body += b"data" + _struct.pack("<I", edge.nbytes) + edge.astype("<f4").tobytes()
    _, got = MM.decode_wav(b"RIFF" + _struct.pack("<I", len(body)) + body)
    assert got.reshape(-1).tolist() == [0, 2, 0, 32767, -32768]


def test_pcm_container_variants_native():
    """Round 11 (second pass): the PCM container variants a real corpus
    hits — unsigned 8-bit (decodes by ffmpeg's (x−128)<<8 rule: exactly
    the floor-256 quantization of the source), signed 24-bit (top 16
    bits kept; low-byte-zero fixtures round-trip bit-exact),
    WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE re-dispatching on the SubFormat
    GUID's leading tag, wrong GUID suffix refused), odd-length data
    chunks word-aligned, and top-down DIB AVI (negative strf biHeight —
    rows not flipped) decoding frame-exact alongside bottom-up."""
    rng = np.random.default_rng(1)
    x = rng.integers(-32768, 32768, size=1000 * 2).astype(np.int16).reshape(-1, 2)

    q = ((x.astype(np.int64) >> 8) << 8).astype(np.int16)  # floor-256
    r, out = MM.decode_wav(MM.encode_wav_u8(8000, x))
    assert r == 8000 and np.array_equal(out, q)
    r, out = MM.decode_wav(MM.encode_wav_s24(8000, x))
    assert np.array_equal(out, x)
    r, out = MM.decode_wav(MM.encode_wav_extensible(8000, x))
    assert np.array_equal(out, x)

    xm = x[:33, :1].copy()  # odd sample counts exercise the pad byte
    assert MM.decode_wav(MM.encode_wav_u8(8000, xm))[1].shape == (33, 1)
    assert np.array_equal(MM.decode_wav(MM.encode_wav_s24(8000, xm))[1], xm)

    bad = bytearray(MM.encode_wav_extensible(8000, x))
    bad[12 + 8 + 30] ^= 0xFF  # corrupt the GUID suffix
    with pytest.raises(ValueError, match="GUID"):
        MM.decode_wav(bytes(bad))
    short = bytearray(MM.encode_wav_extensible(8000, x))
    struct.pack_into("<I", short, 16, 20)  # claim a 20-byte fmt
    with pytest.raises(ValueError):
        MM.decode_wav(bytes(short[: 12 + 8 + 20]) + bytes(short[12 + 8 + 40 :]))

    # 24-bit general rule: arbitrary low bytes floor toward -inf
    raw = MM.encode_wav_s24(8000, x[:4])
    noisy = bytearray(raw)
    data_at = raw.index(b"data") + 8
    noisy[data_at] = 0xFF  # sample 0 low byte
    _, out = MM.decode_wav(bytes(noisy))
    assert out[0, 0] == x[0, 0]  # top 16 bits unchanged by the low byte

    # top-down DIB: both row orders decode to the same RGB frames
    for w, h, n in ((5, 3, 2), (4, 4, 1)):
        fr = rng.integers(0, 256, size=(n, h, w, 3)).astype(np.uint8)
        for td in (False, True):
            W, H, out_v = MM.decode_avi_mjpeg(MM.encode_avi_rawrgb(w, h, fr, top_down=td))
            assert (W, H) == (w, h) and np.array_equal(out_v, fr), (w, h, td)

    # the widened fixture cycles all four containers deterministically
    assert [MM._pcm_variant(d) for d in (0, 10, 20, 30, 40)] == [0, 1, 2, 3, 0]


def test_dib_avi_native_decode_and_stage(spark):
    """Round 11: raw-RGB DIB AVI decodes natively and LOSSLESSLY —
    round-trip exact across geometries with zero and nonzero row
    padding — and the Spark stage (dib_frame_stats) emits exact
    container bytes, geometry and per-channel sums recomputed
    independently in numpy, with the safe-mode quarantine contract on a
    planted entropy-coded neighbor."""
    rng = np.random.default_rng(5)
    for w, h, n in ((4, 4, 1), (5, 3, 4), (7, 2, 2), (1, 1, 3)):  # pads 0,1,3,1
        frames = rng.integers(0, 256, size=(n, h, w, 3)).astype(np.uint8)
        W, H, out = MM.decode_avi_mjpeg(MM.encode_avi_rawrgb(w, h, frames))
        assert (W, H) == (w, h) and np.array_equal(out, frames), (w, h, n)

    ids = [0, 3, 10, 37]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = {r.doc_id: r for r in MM.dib_frame_stats(MM.render_dib_payloads(docs)).collect()}
    assert set(rows) == set(ids)
    for i in ids:
        w, h, n = MM._mjpeg_fixture_geom(i)
        frames = np.stack([MM._mjpeg_fixture_frame(i, f, w, h) for f in range(n)])
        kept = frames[:: MM.FRAME_STRIDE].astype("int64")
        r = rows[i]
        assert (r.width, r.height, r.n_frames) == (w, h, n)
        assert r.byte_len == len(MM.encode_avi_rawrgb(w, h, frames))
        assert r.byte_len == 224 + n * (8 + h * ((w * 3 + 3) // 4 * 4))
        assert (r.r_sum, r.g_sum, r.b_sum) == tuple(
            int(kept[..., c].sum()) for c in range(3)
        )

    w, h, n = MM._mjpeg_fixture_geom(3)
    frames = np.stack([MM._mjpeg_fixture_frame(3, f, w, h) for f in range(n)])
    good = MM.encode_avi_rawrgb(w, h, frames)
    h264 = MM.encode_avi_mjpeg(
        w, h, [MM.encode_jpeg(w, h, frames[f]) for f in range(n)]
    ).replace(b"MJPG", b"H264")
    vdf = spark.createDataFrame(
        [(3, bytearray(good)), (4, bytearray(h264))], "doc_id long, video binary"
    )
    vrows = {r.doc_id: r for r in MM.dib_frame_stats(vdf, safe=True).collect()}
    assert vrows[3].status == "ok" and vrows[3].r_sum is not None
    assert vrows[4].status == "quarantined:NotImplementedError"


def test_mjpeg_frame_check_and_safe_quarantine(spark):
    """The Spark stage over the AVI codec: strict mode emits exact
    geometry + decode_ok=true for every sampled doc; safe mode
    quarantines a planted H.264-fourcc AVI as NotImplementedError while
    its MJPEG neighbors stay identical to strict mode."""
    from pyspark.sql import functions as F

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import multimodal as MM

    ids = spark.createDataFrame([(i * 10,) for i in range(6)], "doc_id long")
    rendered = MM.render_avi_payloads(ids)
    strict = {r.doc_id: r for r in MM.mjpeg_frame_check(rendered).collect()}
    assert len(strict) == 6
    for d, r in strict.items():
        w, h, n = MM._mjpeg_fixture_geom(d)
        assert (r.width, r.height, r.n_frames) == (w, h, n)
        assert r.decode_ok is True
        assert r.sampled_frames == ",".join(str(i) for i in range(0, n, MM.FRAME_STRIDE))

    # plant one non-MJPEG stream (doc 0): fourcc swapped to H264
    planted = rendered.withColumn(
        "video",
        F.when(F.col("doc_id") == 0,
               F.udf(lambda b: bytes(b).replace(b"MJPG", b"H264"), "binary")("video")
        ).otherwise(F.col("video")),
    )
    rows = {r.doc_id: r for r in MM.mjpeg_frame_check(planted, safe=True).collect()}
    assert rows[0].status == "quarantined:NotImplementedError" and rows[0].decode_ok is None
    for d in (10, 20, 30, 40, 50):
        assert rows[d].status == "ok"
        assert (rows[d].width, rows[d].n_frames) == (strict[d].width, strict[d].n_frames)


def test_safe_decode_importerror_escapes_quarantine(spark):
    """ADVICE r9: an executor-side missing decode library is an
    ENVIRONMENT defect, not a payload defect — safe=True must not
    swallow it as a sea of 'quarantined:ImportError' rows. Hand the
    decode-stage helper every stage runs through a decode that raises
    ImportError and assert the stage FAILS with the ImportError
    surfaced, instead of completing with quarantine rows."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import multimodal as MM

    def missing_library(payload):
        raise ImportError("No module named 'PIL' (executor)")

    ids = spark.createDataFrame([(0,)], "doc_id long")
    rendered = MM.render_ppm_payloads(ids)
    df = MM._decode_stage(
        rendered, "img", "width long", missing_library, lambda *_: (0,), safe=True
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="ImportError|No module named"):
        df.collect()


def _has_ffmpeg() -> bool:
    import shutil

    return shutil.which("ffmpeg") is not None


def test_av_compressed_fixtures_quarantine_natively(spark):
    """Rounds 10-11, the unconditional half of the A/V adapter pattern.
    G.711 A-law/µ-law WAVs (tags 6/7) decode natively — both companders
    pinned EXHAUSTIVELY bit-exact against CPython's audioop reference
    (all 65536 encoder inputs, all 256 decoder codes, both laws). Round
    11 moves IEEE-float WAV (bit-exact: fixture dyadics), IMA-ADPCM WAV
    and raw-RGB DIB AVI (lossless: exact frames) native too, so the
    remaining refusals are ENTROPY-coded only — MP3-in-WAV (tag 0x55)
    and H.264-fourcc AVI raise at their declared seams and quarantine
    cleanly in safe mode while every other format in the same batch
    decodes untouched."""
    import warnings

    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(7)
    x = rng.integers(-32768, 32768, size=5000).astype(np.int16)
    full = np.arange(-32768, 32768, dtype=np.int16)  # EVERY 16-bit input
    codes = np.arange(256, dtype=np.uint8)  # every compressed code
    try:
        import audioop  # deprecated in 3.13 — reference check only

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            # exhaustive: both companders bit-exact over the whole domain
            assert MM._lin2alaw(full).tobytes() == audioop.lin2alaw(full.astype("<i2").tobytes(), 2)
            assert np.array_equal(
                MM._alaw2lin(codes), np.frombuffer(audioop.alaw2lin(codes.tobytes(), 2), "<i2")
            )
            assert REF.lin2ulaw(full).tobytes() == audioop.lin2ulaw(full.astype("<i2").tobytes(), 2)
            assert np.array_equal(
                MM._ulaw2lin(codes), np.frombuffer(audioop.ulaw2lin(codes.tobytes(), 2), "<i2")
            )
    except ImportError:
        pass  # 3.13+: the expander round-trip below still pins the quantizer
    # expand(compress(x)) is the G.711 quantizer: idempotent on its range
    for enc, dec in ((MM._lin2alaw, MM._alaw2lin), (REF.lin2ulaw, MM._ulaw2lin)):
        q = dec(enc(full))
        assert np.array_equal(dec(enc(q)), q)

    # G.711 WAVs decode NATIVELY to exactly the reference expansion
    xs = x.reshape(-1, 2)
    for enc_wav, law_enc, law_dec in (
        (MM.encode_wav_alaw, MM._lin2alaw, MM._alaw2lin),
        (REF.encode_wav_ulaw, REF.lin2ulaw, MM._ulaw2lin),
    ):
        rate, out = MM.decode_wav(enc_wav(8000, xs))
        assert rate == 8000 and np.array_equal(out, law_dec(law_enc(xs.reshape(-1))).reshape(-1, 2))

    # round 11: IEEE-float WAV decodes natively BIT-EXACTLY (int16
    # values are dyadics k/2^15, exactly representable in float32)
    f32_wav = MM.encode_wav_f32(8000, xs)
    rate_f, out_f = MM.decode_wav(f32_wav)
    assert rate_f == 8000 and np.array_equal(out_f, xs)
    # round 11: raw-RGB DIB AVI decodes natively LOSSLESSLY
    rgb_frames = rng.integers(0, 256, size=(3, 5, 4, 3)).astype(np.uint8)
    raw_avi = MM.encode_avi_rawrgb(4, 5, rgb_frames)
    W, H, out_v = MM.decode_avi_mjpeg(raw_avi)
    assert (W, H) == (4, 5) and np.array_equal(out_v, rgb_frames)

    # the remaining refusals are perceptual codecs: real headers,
    # declared seams
    mp3_wav = bytearray(MM.encode_wav(8000, xs))
    mp3_wav[20] = 0x55  # format tag 0x55 = MPEG Layer 3
    with _pytest.raises(NotImplementedError, match="PERCEPTUAL"):
        MM.decode_wav(bytes(mp3_wav))
    w, h, n = MM._mjpeg_fixture_geom(10)
    good_avi = MM.encode_avi_mjpeg(
        w, h, [MM.encode_jpeg(w, h, MM._mjpeg_fixture_frame(10, f, w, h)) for f in range(n)]
    )
    h264_avi = good_avi.replace(b"MJPG", b"H264")
    with _pytest.raises(NotImplementedError, match="inter-frame"):
        MM.decode_avi_mjpeg(h264_avi)

    # safe mode: only the entropy-coded plant quarantines; PCM, BOTH
    # G.711 laws, float and ADPCM neighbors all decode in one batch
    good_wav = MM.encode_wav(8000, MM._wav_fixture_samples(3, 1, 40))
    adpcm_wav = MM.encode_wav_adpcm(8000, MM._adpcm_fixture_samples(3, 2, 40))
    adf = spark.createDataFrame(
        [(1, bytearray(bytes(mp3_wav))), (2, bytearray(good_wav)),
         (3, bytearray(MM.encode_wav_alaw(8000, xs))),
         (4, bytearray(REF.encode_wav_ulaw(8000, xs))),
         (5, bytearray(f32_wav)), (6, bytearray(adpcm_wav))],
        "doc_id long, audio binary",
    )
    arows = {r.doc_id: r for r in MM.audio_features(adf, safe=True).collect()}
    assert arows[1].status == "quarantined:NotImplementedError"
    assert arows[2].status == "ok" and arows[2].sample_rate == 8000
    assert arows[3].status == "ok" and arows[3].n_channels == 2
    assert arows[4].status == "ok" and arows[4].n_samples == len(xs)
    assert arows[5].status == "ok" and arows[5].n_samples == len(xs)
    assert arows[6].status == "ok" and arows[6].n_samples == 40
    vdf = spark.createDataFrame(
        [(1, bytearray(h264_avi)), (2, bytearray(good_avi)), (3, bytearray(raw_avi))],
        "doc_id long, video binary",
    )
    vrows = {r.doc_id: r for r in MM.mjpeg_frame_check(vdf, safe=True).collect()}
    assert vrows[1].status == "quarantined:NotImplementedError"
    assert vrows[2].status == "ok" and vrows[2].n_frames == n
    # the DIB AVI decodes through the same stage (round 11) — and its
    # random pixels rightly FAIL the doc-3 fixture invariant, proving
    # decode_ok is a real check, not a constant
    assert vrows[3].status == "ok" and vrows[3].decode_ok is False


@pytest.mark.skipif(not _has_ffmpeg(), reason="ffmpeg not installed (production A/V decode adapter)")
def test_ffmpeg_adapter_cross_checks_native_decoders(spark):
    """Where ffmpeg exists: every format BOTH engines decode must agree
    — G.711 (both laws), IEEE-float and IMA-ADPCM WAV bit-for-bit on
    the s16 output, raw-RGB AVI frame-for-frame — the strongest
    correctness evidence two independent implementations can give. Then
    the adapter's exclusive territory: an MP3-in-WAV encoded BY ffmpeg
    (genuinely entropy-coded — the native decoder refuses the tag)
    decodes with sane geometry."""
    import subprocess

    import numpy as np

    rng = np.random.default_rng(11)
    x = rng.integers(-32768, 32768, size=4000).astype(np.int16).reshape(-1, 2)
    for enc in (MM.encode_wav_alaw, REF.encode_wav_ulaw, MM.encode_wav_f32):
        wav = enc(8000, x)
        rate_n, out_n = MM.decode_wav(wav)
        rate_a, out_a = REF.decode_audio_ffmpeg(wav)
        assert rate_n == rate_a == 8000 and np.array_equal(out_n, out_a), enc.__name__
    # ADPCM: ffmpeg's adpcm_ima_wav decoder against the native one on
    # the native encoder's output
    tri = MM._adpcm_fixture_samples(5, 2, 500)
    adpcm_wav = MM.encode_wav_adpcm(8000, tri)
    rate_n, out_n = MM.decode_wav(adpcm_wav)
    rate_a, out_a = REF.decode_audio_ffmpeg(adpcm_wav)
    assert rate_n == rate_a == 8000 and np.array_equal(out_n, out_a)

    frames = rng.integers(0, 256, size=(4, 6, 5, 3)).astype(np.uint8)
    raw_avi = MM.encode_avi_rawrgb(5, 6, frames)
    w, h, out = REF.decode_video_ffmpeg(raw_avi)
    assert (w, h, len(out)) == (5, 6, 4)
    assert np.array_equal(out, frames)
    wn, hn, out_native = MM.decode_avi_mjpeg(raw_avi)
    assert (wn, hn) == (w, h) and np.array_equal(out_native, out)

    # FLAC (round 12): bidirectional cross-check of the entropy codec —
    # ffmpeg decodes the NATIVE encoder's output bit-for-bit, and the
    # native decoder decodes FFMPEG's own flac encoder output (LPC
    # subframes, multi-partition Rice — the surface our encoder doesn't
    # emit) back to the exact source samples
    for mode in ("independent", "left-side", "mid-side"):
        flac = MM.encode_flac(8000, x, stereo_mode=mode)
        rate_a, out_a = REF.decode_audio_ffmpeg(flac)
        assert rate_a == 8000 and np.array_equal(out_a, x), mode
    proc = subprocess.run(
        ["ffmpeg", "-v", "error", "-i", "pipe:0", "-acodec", "flac", "-f", "flac", "pipe:1"],
        input=MM.encode_wav(8000, x), capture_output=True, check=False,
    )
    if proc.returncode == 0 and proc.stdout[:4] == b"fLaC":
        rate_n, out_n = MM.decode_flac(proc.stdout)
        assert rate_n == 8000 and np.array_equal(out_n, x)

    # perceptual: MP3-in-WAV rendered by ffmpeg itself; native
    # refuses the tag, the adapter decodes with sane geometry (MP3 is
    # lossy + padded, so assert rate/channels and approximate length)
    pcm_wav = MM.encode_wav(8000, x)
    proc = subprocess.run(
        ["ffmpeg", "-v", "error", "-i", "pipe:0", "-acodec", "mp3", "-f", "wav", "pipe:1"],
        input=pcm_wav, capture_output=True, check=False,
    )
    if proc.returncode == 0 and proc.stdout[:4] == b"RIFF":  # libmp3lame present
        mp3_wav = proc.stdout
        with pytest.raises(NotImplementedError, match="PERCEPTUAL"):
            MM.decode_wav(mp3_wav)
        rate_m, out_m = REF.decode_audio_ffmpeg(mp3_wav)
        assert rate_m == 8000 and out_m.shape[1] == 2
        assert abs(out_m.shape[0] - x.shape[0]) < 3000  # codec delay padding


def test_avi_and_alaw_roundtrip_fuzz():
    """Hypothesis round-trip fuzz for the round-10 codecs, matching the
    discipline the other hand-rolled binary codecs carry: arbitrary
    geometry/pixels through encode_avi_mjpeg→decode_avi_mjpeg stay
    within the JPEG bound frame-for-frame; arbitrary int16 samples
    through the G.711 pair satisfy the quantizer contract (expand∘
    compress idempotent, error bounded by the largest A-law step); and
    arbitrary raw-RGB AVIs survive their (lossless) container walk via
    the ffmpeg-adapter header parse."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=15, deadline=None)
    @given(
        st.integers(min_value=1, max_value=20),
        st.integers(min_value=1, max_value=20),
        st.integers(min_value=1, max_value=4),
        st.integers(min_value=0, max_value=2**31 - 1),
    )
    def avi_case(w, h, n, seed):
        rng = np.random.default_rng(seed)
        frames = rng.integers(0, 256, size=(n, h, w, 3)).astype(np.uint8)
        jpegs = [MM.encode_jpeg(w, h, frames[f]) for f in range(n)]
        W, H, out = MM.decode_avi_mjpeg(MM.encode_avi_mjpeg(w, h, jpegs))
        assert (W, H, len(out)) == (w, h, n)
        # independent single-image decodes are the reference: the
        # CONTAINER walk must not change what each frame decodes to
        for f in range(n):
            solo = MM.decode_jpeg(jpegs[f])[3]
            assert np.array_equal(out[f], solo), f

    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.integers(min_value=-32768, max_value=32767), min_size=2, max_size=400),
           st.integers(min_value=1, max_value=2))
    def alaw_case(vals, ch):
        n = len(vals) - len(vals) % ch
        if not n:
            return
        x = np.asarray(vals[:n], np.int16)
        q = MM._alaw2lin(MM._lin2alaw(x))
        assert np.array_equal(MM._alaw2lin(MM._lin2alaw(q)), q)  # idempotent
        # A-law quantization error bound: top segment step is 2^(seg-1)*16
        # at 13-bit -> 256 at 16-bit; +8 encoder rounding headroom
        assert int(np.abs(q.astype(np.int64) - x.astype(np.int64)).max()) <= 1024
        wav = MM.encode_wav_alaw(8000, x.reshape(-1, ch))
        assert wav[:4] == b"RIFF" and len(wav) % 2 == 0

    avi_case()
    alaw_case()


def _build_flac_frame(rate, nch, bps, block, write_subframes, md5_bytes=None):
    """Hand-assemble a single-frame FLAC stream: real headers and CRCs
    around caller-supplied subframe bits — the harness for decoder
    paths our encoder never emits (LPC, Rice2, escapes, wasted bits,
    multi-partition residuals, odd bit depths)."""
    w = MM._BitWriter()
    w.write(0x3FFE, 14); w.write(0, 1); w.write(0, 1)
    w.write(7, 4)        # block size: 16-bit value follows
    w.write(0, 4)        # rate: from STREAMINFO
    w.write(nch - 1, 4)  # independent channels
    w.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bps], 3)
    w.write(0, 1)
    w.write(0, 8)        # utf8 frame number 0
    w.write(block - 1, 16)
    w.write(MM._crc8_flac(bytes(w.buf)), 8)
    write_subframes(w)
    w.align()
    w.write(MM._crc16_flac(bytes(w.buf)), 16)
    frame = w.getvalue()
    si = MM._BitWriter()
    si.write(block, 16); si.write(block, 16)
    si.write(len(frame), 24); si.write(len(frame), 24)
    si.write(rate, 20); si.write(nch - 1, 3); si.write(bps - 1, 5)
    si.write(block, 36)
    streaminfo = si.getvalue() + (md5_bytes or b"\x00" * 16)
    return (
        MM.FLAC_MAGIC + bytes([0x80]) + len(streaminfo).to_bytes(3, "big")
        + streaminfo + frame
    )


def test_flac_codec_roundtrip_and_self_checks():
    """Round 12: the native FLAC codec — the entropy-codec milestone.
    Encoder->decoder roundtrips are EXACT (lossless) across the fixture
    family, every stereo decorrelation mode, and multi-frame streams;
    the container self-checks (CRC-8, CRC-16, STREAMINFO MD5) each fail
    loudly under single-bit corruption; dispatch routes FLAC magic to
    decode_flac and RIFF to decode_wav."""
    # fixture family: all geometries, mono + all four stereo modes
    for d in (0, 1, 7, 12, 40, 100, 229):
        rate, ch, n = MM._wav_fixture_geom(d)
        x = MM._wav_fixture_samples(d, ch, n)
        mode = ["independent", "left-side", "right-side", "mid-side"][(d // 10) % 4] \
            if ch == 2 else "independent"
        flac = MM.encode_flac(rate, x, stereo_mode=mode)
        r2, out = MM.decode_flac(flac)
        assert r2 == rate and np.array_equal(out, x), (d, mode)
        r3, out3 = MM.decode_audio_native(flac)
        assert r3 == rate and np.array_equal(out3, x)

    # full-swing stereo, multi-frame, every mode
    rng = np.random.default_rng(7)
    x = rng.integers(-32768, 32768, size=3000 * 2).astype(np.int16).reshape(-1, 2)
    for mode in ("independent", "left-side", "right-side", "mid-side"):
        flac = MM.encode_flac(8000, x, block_size=1024, stereo_mode=mode)
        r2, out = MM.decode_flac(flac)
        assert r2 == 8000 and np.array_equal(out, x), mode

    # compression is real: the triangle fixture (smooth, order-2
    # predictable) must Rice-code well under the raw PCM size
    tri = MM._adpcm_fixture_samples(9, 1, 4000)
    flac = MM.encode_flac(8000, tri)
    assert len(flac) < tri.nbytes // 2

    # self-checks fail loudly on single-byte corruption
    flac = bytearray(MM.encode_flac(8000, x[:500]))
    # STREAMINFO md5 byte -> decoded-stream MD5 mismatch
    bad = flac.copy(); bad[30] ^= 0xFF
    with pytest.raises(ValueError, match="MD5"):
        MM.decode_flac(bytes(bad))
    # a frame-body byte -> CRC-16 (or earlier Rice geometry) failure
    bad = flac.copy(); bad[-4] ^= 0x01
    with pytest.raises(ValueError):
        MM.decode_flac(bytes(bad))
    # a header byte just after sync -> CRC-8 failure
    bad = flac.copy(); bad[42 + 3] ^= 0x02  # inside the first frame header
    with pytest.raises(ValueError):
        MM.decode_flac(bytes(bad))
    with pytest.raises(ValueError, match="not a FLAC"):
        MM.decode_flac(b"fLaX" + bytes(flac[4:]))
    with pytest.raises(ValueError):
        MM.decode_flac(bytes(flac[:50]))  # truncated

    # dispatch: WAV still routes through the RIFF walk
    r4, out4 = MM.decode_audio_native(MM.encode_wav(8000, x[:100]))
    assert r4 == 8000 and np.array_equal(out4, x[:100])


def test_flac_decoder_full_subframe_surface():
    """Decoder paths beyond what our encoder emits, each on a
    hand-built spec-exact stream: LPC subframes, Rice2 (5-bit params),
    the raw-bits escape, multi-partition residuals, wasted bits,
    verbatim subframes, and 24-bit depth mapping."""
    import hashlib

    # LPC order 1, coeff 2, shift 1: s[i] = r[i] + (2*s[i-1] >> 1)
    warm, res = 100, [3, -2, 5, 0, -7, 1, 4]
    expect = [warm]
    for e in res:
        expect.append(e + ((2 * expect[-1]) >> 1))

    def lpc_sub(w):
        w.write(0, 1); w.write(32, 6); w.write(0, 1)  # LPC order 1
        w.write(warm & 0xFFFF, 16)                     # warmup
        w.write(3, 4)                                  # precision 4
        w.write(1, 5)                                  # shift 1
        w.write(2, 4)                                  # coeff = 2 (4-bit signed)
        w.write(0, 2); w.write(0, 4); w.write(2, 4)    # rice p=2
        for v in res:
            u = (v << 1) if v >= 0 else ((-v) << 1) - 1
            w.write(1, (u >> 2) + 1); w.write(u & 3, 2)

    md5 = hashlib.md5(np.array(expect, "<i2").tobytes()).digest()
    rate, out = MM.decode_flac(_build_flac_frame(8000, 1, 16, len(expect), lpc_sub, md5))
    assert rate == 8000 and out.reshape(-1).tolist() == expect

    # Rice2 (method 1, 5-bit params) + partition order 1 on FIXED order 1
    block, vals = 8, [10, 11, 13, 12, 9, 9, 14, 10]
    res1 = [vals[i] - vals[i - 1] for i in range(1, block)]

    def fixed_sub(w):
        w.write(0, 1); w.write(9, 6); w.write(0, 1)  # FIXED order 1
        w.write(vals[0] & 0xFFFF, 16)
        w.write(1, 2)   # method 1: Rice2
        w.write(1, 4)   # partition order 1 -> 2 partitions
        for p, part in enumerate((res1[: block // 2 - 1], res1[block // 2 - 1 :])):
            w.write(3, 5)  # 5-bit param 3
            for v in part:
                u = (v << 1) if v >= 0 else ((-v) << 1) - 1
                w.write(1, (u >> 3) + 1); w.write(u & 7, 3)

    md5 = hashlib.md5(np.array(vals, "<i2").tobytes()).digest()
    rate, out = MM.decode_flac(_build_flac_frame(8000, 1, 16, block, fixed_sub, md5))
    assert out.reshape(-1).tolist() == vals

    # escape partition (param all-ones -> raw 6-bit residuals) + VERBATIM ch1
    vals0, vals1 = [7, 7, 9, 6], [-1, 2, -3, 4]
    res0 = [vals0[i] - vals0[i - 1] for i in range(1, 4)]

    def two_sub(w):
        w.write(0, 1); w.write(9, 6); w.write(0, 1)   # ch0: FIXED order 1
        w.write(vals0[0] & 0xFFFF, 16)
        w.write(0, 2); w.write(0, 4); w.write(15, 4)  # ESCAPE
        w.write(6, 5)                                 # raw width 6
        for v in res0:
            w.write(v & 0x3F, 6)
        w.write(0, 1); w.write(1, 6); w.write(0, 1)   # ch1: VERBATIM
        for v in vals1:
            w.write(v & 0xFFFF, 16)

    inter = np.array([vals0, vals1], "<i2").T.reshape(-1)
    md5 = hashlib.md5(inter.astype("<i2").tobytes()).digest()
    rate, out = MM.decode_flac(_build_flac_frame(8000, 2, 16, 4, two_sub, md5))
    assert out[:, 0].tolist() == vals0 and out[:, 1].tolist() == vals1

    # wasted bits: all-even samples coded at bps-1 with 1 wasted bit
    vals = [2, 4, -6, 8]

    def wasted_sub(w):
        w.write(0, 1); w.write(1, 6)   # VERBATIM
        w.write(1, 1)                  # wasted-bits flag
        w.write(1, 1)                  # unary 0 -> wasted = 1
        for v in vals:
            w.write((v >> 1) & 0x7FFF, 15)

    md5 = hashlib.md5(np.array(vals, "<i2").tobytes()).digest()
    rate, out = MM.decode_flac(_build_flac_frame(8000, 1, 16, 4, wasted_sub, md5))
    assert out.reshape(-1).tolist() == vals

    # 24-bit CONSTANT: decoder keeps the top 16 bits (the s24 WAV rule)
    v24 = 0x123456

    def const24(w):
        w.write(0, 1); w.write(0, 6); w.write(0, 1)
        w.write(v24, 24)

    u = np.array([v24] * 4, np.int64)
    raw24 = (u & 0xFFFFFF).astype("<u4").view(np.uint8).reshape(-1, 4)[:, :3]
    md5 = hashlib.md5(raw24.tobytes()).digest()
    rate, out = MM.decode_flac(_build_flac_frame(8000, 1, 24, 4, const24, md5))
    assert out.reshape(-1).tolist() == [v24 >> 8] * 4


def test_flac_roundtrip_fuzz():
    """Hypothesis round-trip fuzz for the round-12 FLAC codec: arbitrary
    int16 sample streams (any channel count the fixture uses, any stereo
    decorrelation mode, block sizes forcing multi-frame streams and
    final partial blocks) must round-trip EXACTLY — FLAC is lossless,
    so the property is equality, not a bound. The MD5/CRC self-checks
    run on every decode, so a single wrong bit anywhere in the writer
    or reader fails the example."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=600),
        st.integers(min_value=1, max_value=2),
        st.sampled_from(["independent", "left-side", "right-side", "mid-side"]),
        st.sampled_from([64, 192, 4096]),
    )
    def flac_case(vals, ch, mode, block):
        n = len(vals) - len(vals) % ch
        if not n:
            return
        x = np.asarray(vals[:n], np.int16).reshape(-1, ch)
        if ch == 1:
            mode = "independent"
        rate, out = MM.decode_flac(MM.encode_flac(11025, x, block_size=block, stereo_mode=mode))
        assert rate == 11025 and np.array_equal(out, x)

    flac_case()


def test_flac_corruption_never_hangs_or_escapes():
    """Robustness at the quarantine boundary: random single-byte and
    truncation corruptions of valid FLAC streams must either still
    decode (corruption in padding/ignored metadata) or raise a normal
    ValueError/NotImplementedError-class exception promptly — never an
    IndexError from unchecked indexing, never a hang (the windowed
    doubling scan and the frame loop both have explicit termination
    bounds). 200 corruptions across the whole byte range."""
    import numpy as np

    x = MM._wav_fixture_samples(7, 2, 60)
    base = MM.encode_flac(8100, x, stereo_mode="left-side")
    rng = np.random.default_rng(42)
    for trial in range(200):
        bad = bytearray(base)
        i = int(rng.integers(0, len(bad)))
        bad[i] ^= int(rng.integers(1, 256))
        try:
            MM.decode_flac(bytes(bad))
        except (ValueError, NotImplementedError):
            pass  # the expected failure class
    for cut in range(4, len(base), 37):
        try:
            MM.decode_flac(base[:cut])
        except (ValueError, NotImplementedError):
            pass


def test_jpeg_bitreader_rejects_width_over_peek_window():
    """ADVICE r12 item 2: _BitReader.bits relies on the 16-bit peek
    window; a corrupt DHT can emit a DC category symbol > 16, which
    used to surface as a misleading 'negative shift count' ValueError.
    The contract is now explicit: widths 17+ raise a domain error,
    width 16 (the window limit) still reads."""
    br = MM._BitReader(b"\xab\xcd\xef")
    assert br.bits(16) == 0xABCD
    br = MM._BitReader(b"\xab\xcd\xef")
    with pytest.raises(ValueError, match="invalid bit-read width 17"):
        br.bits(17)


def test_flac_frame_bps_must_match_streaminfo():
    """ADVICE r12 item 3: a CRC-valid frame whose sample-size code
    disagrees with STREAMINFO used to decode subframes at the frame bps
    but scale output at the STREAMINFO bps — silently wrong samples
    unless the encoder recorded an MD5. decode_flac now cross-checks
    the frame bps against STREAMINFO, mirroring the rate and
    channel-count checks."""
    # hand-assemble: STREAMINFO declares 16-bit, frame ss_code says 8-bit
    block = 4
    w = MM._BitWriter()
    w.write(0x3FFE, 14); w.write(0, 1); w.write(0, 1)
    w.write(7, 4)   # block size: 16-bit value follows
    w.write(0, 4)   # rate: from STREAMINFO
    w.write(0, 4)   # 1 channel
    w.write(1, 3)   # ss_code 1 = 8-bit  <-- disagrees with STREAMINFO's 16
    w.write(0, 1)
    w.write(0, 8)   # utf8 frame number 0
    w.write(block - 1, 16)
    w.write(MM._crc8_flac(bytes(w.buf)), 8)
    # constant subframe at the frame's own 8 bps
    w.write(0, 1); w.write(0, 6); w.write(0, 1); w.write(0x55, 8)
    w.align()
    w.write(MM._crc16_flac(bytes(w.buf)), 16)
    frame = w.getvalue()
    si = MM._BitWriter()
    si.write(block, 16); si.write(block, 16)
    si.write(len(frame), 24); si.write(len(frame), 24)
    si.write(8000, 20); si.write(0, 3); si.write(16 - 1, 5)
    si.write(block, 36)
    streaminfo = si.getvalue() + b"\x00" * 16
    payload = (
        MM.FLAC_MAGIC + bytes([0x80]) + len(streaminfo).to_bytes(3, "big")
        + streaminfo + frame
    )
    with pytest.raises(ValueError, match="sample size differs from STREAMINFO"):
        MM.decode_flac(payload)




def _crc_bitwise(data: bytes, poly: int, width: int) -> int:
    """Bit-at-a-time MSB-first CRC, init 0: the textbook definition the
    table-driven FLAC CRCs must agree with."""
    top, mask, r = 1 << (width - 1), (1 << width) - 1, 0
    for byte in data:
        r ^= byte << (width - 8)
        for _ in range(8):
            r = ((r << 1) ^ poly) & mask if r & top else (r << 1) & mask
    return r


def test_flac_crcs_match_standard_check_values():
    """The FLAC encoder and decoder share ``_crc8_flac``/``_crc16_flac``,
    so a wrong table would still round-trip every FLAC test. Pin both to
    the catalogue check values of their CRC models (CRC-8 poly 0x07 and
    CRC-16/UMTS poly 0x8005, both init 0, unreflected) and to a bitwise
    reference on inputs of every size up to 50 KB, far past any FLAC
    frame the encoder writes."""
    assert MM._crc8_flac(b"123456789") == 0xF4
    assert MM._crc16_flac(b"123456789") == 0xFEE8
    buf = np.random.default_rng(3).integers(0, 256, 50_000, dtype=np.uint8).tobytes()
    for n in (0, 1, 2, 89, 4095, 4096, 4097, 50_000):
        assert MM._crc8_flac(buf[:n]) == _crc_bitwise(buf[:n], 0x07, 8), n
        assert MM._crc16_flac(buf[:n]) == _crc_bitwise(buf[:n], 0x8005, 16), n


@pytest.mark.parametrize("stuff", [False, True])
def test_bit_writer_is_bounded_and_exact(stuff):
    """The one MSB-first bit writer serves FLAC (zero padding) and JPEG
    (0xFF byte stuffing, one-bit padding). Its accumulator keeps only the
    bits not yet emitted, so a long stream costs linear time: after each
    of 400k 9-bit writes it holds fewer than 8 bits. The bytes equal a
    numpy packbits reference with the stuffing and padding applied."""
    vals = np.random.default_rng(5).integers(0, 512, 400_000)
    w = MM._BitWriter(stuff=stuff)
    for i, v in enumerate(vals.tolist()):
        w.write(v, 9)
        if i % 997 == 0:
            assert w.acc.bit_length() < 8, i
    assert w.acc.bit_length() < 8
    bits = ((vals[:, None] >> np.arange(8, -1, -1)) & 1).astype(np.uint8).reshape(-1)
    pad = (-len(bits)) % 8
    bits = np.concatenate([bits, np.full(pad, 1 if stuff else 0, np.uint8)])
    ref = np.packbits(bits).tobytes()
    if stuff:
        ref = ref.replace(b"\xff", b"\xff\x00")
    assert w.getvalue() == ref


def test_ffmpeg_reference_adapters_parse_container_headers(monkeypatch):
    """The ffmpeg adapters take rate, channels and frame geometry from
    the container header and only the sample/pixel stream from ffmpeg.
    With ``run_ffmpeg`` replaced by a stub that returns known s16le or
    rgb24 bytes, the header parsing runs here even without ffmpeg: WAV
    (also behind a leading chunk), FLAC STREAMINFO and AVI avih, the
    channel pin passed to ffmpeg, and the not-whole-frames refusals."""
    calls = []
    out = {}

    def fake_ffmpeg(args, payload):
        calls.append(args)
        return out["raw"]

    monkeypatch.setattr(REF, "run_ffmpeg", fake_ffmpeg)
    stereo = MM._wav_fixture_samples(3, 2, 41)
    mono = MM._wav_fixture_samples(4, 1, 40)
    wav = MM.encode_wav_alaw(11025, stereo)
    junk_first = wav[:12] + b"JUNK" + struct.pack("<I", 3) + b"abc\x00" + wav[12:]
    for payload, rate, samples in (
        (wav, 11025, stereo),
        (junk_first, 11025, stereo),
        (MM.encode_wav_f32(8000, mono), 8000, mono),
        (MM.encode_flac(22050, stereo, stereo_mode="mid-side"), 22050, stereo),
        (MM.encode_flac(8000, mono), 8000, mono),
    ):
        out["raw"] = samples.astype("<i2").tobytes()
        r, s = REF.decode_audio_ffmpeg(payload)
        assert r == rate and s.dtype == np.int16 and np.array_equal(s, samples)
        assert calls[-1][calls[-1].index("-ac") + 1] == str(samples.shape[1])
        out["raw"] = out["raw"][:-2]  # one sample short of whole stereo frames
        if samples.shape[1] == 2:
            with pytest.raises(ValueError, match="not whole interleaved frames"):
                REF.decode_audio_ffmpeg(payload)
    with pytest.raises(ValueError, match="missing fmt"):
        REF.decode_audio_ffmpeg(b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    with pytest.raises(ValueError, match="RIFF/WAVE or FLAC"):
        REF.decode_audio_ffmpeg(b"OggS" + bytes(40))

    frames = np.random.default_rng(9).integers(0, 256, (3, 6, 5, 3)).astype(np.uint8)
    for avi in (MM.encode_avi_rawrgb(5, 6, frames), MM.encode_avi_rawrgb(5, 6, frames, top_down=True)):
        out["raw"] = frames.tobytes()
        w, h, got = REF.decode_video_ffmpeg(avi)
        assert (w, h) == (5, 6) and np.array_equal(got, frames)
        assert calls[-1] == ["-f", "rawvideo", "-pix_fmt", "rgb24"]
        for bad in (frames.tobytes()[:-1], b""):
            out["raw"] = bad
            with pytest.raises(ValueError, match="not whole rgb24 frames"):
                REF.decode_video_ffmpeg(avi)
    with pytest.raises(ValueError, match="RIFF/AVI"):
        REF.decode_video_ffmpeg(wav)


def test_short_wav_fmt_chunk_quarantines_as_value_error(spark):
    """A fmt chunk shorter than its 16-byte head is refused with a
    ValueError that names it, so a safe stage tags the row
    ``quarantined:ValueError`` (unpacking the short chunk raised
    ``struct.error`` before)."""
    short = MM._riff(b"WAVE", MM._chunk(b"fmt ", b"\x01\x00\x01\x00"), MM._chunk(b"data", b"\x00\x00"))
    with pytest.raises(ValueError, match="fmt chunk is 4 bytes"):
        MM.decode_wav(short)
    wavs = spark.createDataFrame([(1, bytearray(short))], "doc_id long, audio binary")
    (row,) = MM.audio_features(wavs, safe=True).collect()
    assert row["status"] == "quarantined:ValueError"
