"""Real stdlib media codecs (functions/media.py): bit-exact container
round-trips (RIFF PCM WAV, binary netpbm), the decoder-contract forms,
and the registered-decoder path through the multimodal operator —
proving the extension point (operators/multimodal.py register_decoder)
with a genuine decoder, not the deterministic fake."""

import numpy as np
import pytest

from vearch_spark.functions.media import (
    decode_image,
    decode_pgm,
    decode_wav,
    decode_wav_pcm,
    pgm_bytes,
    wav_bytes,
    wav_info,
)


def test_wav_roundtrip_mono_16bit():
    rng = np.random.default_rng(5)
    samples = rng.integers(-32768, 32768, size=777, dtype=np.int16)
    blob = wav_bytes(samples, sample_rate=16000)
    info = wav_info(blob)
    assert info == {
        "sample_rate": 16000, "channels": 1, "sampwidth": 2,
        "n_frames": 777, "duration_ms": 48,
    }
    pcm = decode_wav_pcm(blob)
    assert pcm.shape == (777, 1)
    assert (pcm[:, 0] == samples.astype(np.int32)).all()  # bit-exact
    wave = decode_wav(blob)
    assert wave.shape == (777,)
    assert abs(wave).max() <= 1.0
    assert np.allclose(wave, samples.astype(np.float64) / 32768.0)


def test_wav_stereo_mixdown():
    left = np.array([1000, -2000, 30000], dtype=np.int16)
    right = np.array([3000, 2000, -30000], dtype=np.int16)
    inter = np.empty(6, dtype=np.int16)
    inter[0::2], inter[1::2] = left, right
    blob = wav_bytes(inter, sample_rate=8000, channels=2)
    assert wav_info(blob)["channels"] == 2
    pcm = decode_wav_pcm(blob)
    assert (pcm[:, 0] == left).all() and (pcm[:, 1] == right).all()
    assert np.allclose(decode_wav(blob), (left + right) / 2.0 / 32768.0)


def test_wav_8bit_and_24bit():
    import io
    import wave as _wave

    # 8-bit unsigned PCM: 128 is silence → 0 after re-centering
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(1); w.setframerate(8000)
        w.writeframes(bytes([0, 128, 255]))
    pcm = decode_wav_pcm(buf.getvalue())
    assert pcm[:, 0].tolist() == [-128, 0, 127]

    # 24-bit: sign extension must hold at both extremes
    vals = [-(1 << 23), -1, 0, 1, (1 << 23) - 1]
    frames = b"".join(
        int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals
    )
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(3); w.setframerate(8000)
        w.writeframes(frames)
    pcm = decode_wav_pcm(buf.getvalue())
    assert pcm[:, 0].tolist() == vals


def test_pgm_roundtrip_gray_and_rgb():
    gray = np.arange(24, dtype=np.uint8).reshape(4, 6)
    back = decode_pgm(pgm_bytes(gray))
    assert back.shape == (4, 6) and (back == gray).all()
    rgb = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
    back3 = decode_pgm(pgm_bytes(rgb))
    assert back3.shape == (3, 4, 3) and (back3 == rgb).all()
    img = decode_image(pgm_bytes(gray))
    assert img.dtype == np.float64 and img.max() <= 1.0
    assert np.allclose(img * 255.0, gray)


def test_pgm_header_comments_and_rejects():
    gray = np.array([[7, 9], [11, 13]], dtype=np.uint8)
    blob = b"P5\n# a comment\n2 2\n# another\n255\n" + gray.tobytes()
    assert (decode_pgm(blob) == gray).all()
    with pytest.raises(ValueError):
        decode_pgm(b"P1\n2 2\n0 1 1 0")  # ASCII pbm: not supported
    with pytest.raises(ValueError):
        decode_pgm(b"P5\n2 2\n65535\n" + b"\x00" * 8)  # 16-bit maxval
    with pytest.raises(ValueError):
        pgm_bytes(np.zeros((2, 2, 4), dtype=np.uint8))  # RGBA shape


def test_registered_decoder_through_multimodal_operator(spark):
    """The register_decoder extension point with a REAL codec: WAV
    bytes flow through extract_features' Arrow batches and come out as
    the true waveform prefix, not the sha256 fake."""
    from vearch_spark.operators import multimodal as mm
    from vearch_spark.functions.media import register_media_decoders

    register_media_decoders()
    try:
        samples = np.arange(-50, 50, dtype=np.int16) * 300
        rows = [("a1", "audio", bytearray(wav_bytes(samples, 8000)), None, None, None, None)]
        df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
        out = mm.extract_features(df, kind="audio", feature_dim=8).collect()
        want = (samples.astype(np.float64) / 32768.0)[:8]
        assert np.allclose(np.array(out[0].feature, dtype=np.float64), want)
    finally:
        # other tests exercise the documented fake-decoder default
        mm._DECODERS.pop("audio", None)
        mm._DECODERS.pop("image", None)


# -------------------------------------------------------------------- PNG


def test_png_roundtrip_all_filters_all_color_types():
    """Bit-exact encode→decode for every scanline filter × gray /
    gray+alpha / RGB / RGBA, plus the default row%5 schedule that
    exercises all five filters inside one image."""
    from vearch_spark.functions.media import decode_png, png_bytes

    rng = np.random.default_rng(0)
    for shape in [(7, 5), (6, 9, 2), (16, 9, 3), (5, 13, 4), (1, 1), (2, 300, 3)]:
        px = rng.integers(0, 256, shape, dtype=np.uint8)
        for filt in (0, 1, 2, 3, 4, None):
            back = decode_png(png_bytes(px, filters=filt))
            assert back.shape == px.shape
            assert (back == px).all(), (shape, filt)


def test_png_filter_bytes_match_spec_vectors():
    """Pins the filter arithmetic to RFC 2083 §6 independently of the
    decoder: inflate the IDAT and compare the FILTERED bytes to values
    computed here with scalar spec formulas (Sub/Up/Average/Paeth with
    the floor division and tie-breaking the spec prescribes)."""
    import struct
    import zlib

    from vearch_spark.functions.media import png_bytes

    px = np.array([[10, 20, 250], [30, 7, 140], [255, 0, 128]], dtype=np.uint8)

    def inflate(content):
        pos, idat = 8, b""
        while pos + 8 <= len(content):
            (length,) = struct.unpack(">I", content[pos:pos + 4])
            tag = content[pos + 4:pos + 8]
            if tag == b"IDAT":
                idat += content[pos + 8:pos + 8 + length]
            pos += 12 + length
        return zlib.decompress(idat)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    rows = px.astype(int).tolist()
    for ftype in (0, 1, 2, 3, 4):
        want = bytearray()
        prev = [0, 0, 0]
        for row in rows:
            want.append(ftype)
            for i, x in enumerate(row):
                a = row[i - 1] if i else 0  # left (bpp=1)
                b = prev[i]  # up
                c = prev[i - 1] if i else 0  # up-left
                if ftype == 0:
                    f = x
                elif ftype == 1:
                    f = x - a
                elif ftype == 2:
                    f = x - b
                elif ftype == 3:
                    f = x - (a + b) // 2
                else:
                    f = x - paeth(a, b, c)
                want.append(f % 256)
            prev = row
        assert inflate(png_bytes(px, filters=ftype)) == bytes(want), ftype


def test_png_info_and_multi_idat():
    """png_info reads IHDR without inflating; decode concatenates
    split IDAT chunks (the spec allows any number)."""
    import struct
    import zlib

    from vearch_spark.functions.media import (
        _png_chunk, decode_png, png_bytes, png_info,
    )

    px = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    b = png_bytes(px)
    assert png_info(b) == {
        "width": 4, "height": 4, "bit_depth": 8, "color_type": 2,
        "channels": 3, "interlace": 0,
    }
    # split the single IDAT into two chunks
    pos, parts, idat = 8, [b[:8]], b""
    while pos + 8 <= len(b):
        (length,) = struct.unpack(">I", b[pos:pos + 4])
        tag = b[pos + 4:pos + 8]
        body = b[pos + 8:pos + 8 + length]
        if tag == b"IDAT":
            idat = body
            parts.append(_png_chunk(b"IDAT", idat[:7]))
            parts.append(_png_chunk(b"IDAT", idat[7:]))
        else:
            parts.append(b[pos:pos + 12 + length])
        pos += 12 + length
    assert (decode_png(b"".join(parts)) == px).all()


def test_png_rejects_corrupt_and_unsupported():
    from vearch_spark.functions.media import decode_png, png_bytes

    px = np.arange(30, dtype=np.uint8).reshape(5, 6)
    good = png_bytes(px)
    bad = bytearray(good)
    bad[20] ^= 0xFF  # flip an IHDR byte → CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"\x89PNX" + good[4:])
    depth12 = bytearray(good)
    depth12[24] = 12  # IHDR bit depth — no such PNG depth
    import struct
    import zlib as _z
    body = bytes(depth12[16:29])
    depth12[29:33] = struct.pack(">I", _z.crc32(b"IHDR" + body) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="8/16-bit"):
        decode_png(bytes(depth12))


def test_decode_image_dispatches_on_magic():
    from vearch_spark.functions.media import decode_image, pgm_bytes, png_bytes

    px = np.arange(12, dtype=np.uint8).reshape(3, 4)
    via_png = decode_image(png_bytes(px))
    via_pgm = decode_image(pgm_bytes(px))
    assert np.allclose(via_png, px / 255.0)
    assert np.allclose(via_pgm, px / 255.0)


def test_png_property_roundtrip_random_shapes_and_filters():
    """Hypothesis sweep: any uint8 image in the supported envelope
    (8-bit, 1/2/3/4 channels, arbitrary small dims) round-trips
    bit-exactly under any per-row filter schedule."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vearch_spark.functions.media import decode_png, png_bytes, png_info

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 12),
        w=st.integers(1, 12),
        ch=st.sampled_from([1, 2, 3, 4]),
        seed=st.integers(0, 2**31 - 1),
        data=st.data(),
    )
    def check(h, w, ch, seed, data):
        rng = np.random.default_rng(seed)
        shape = (h, w) if ch == 1 else (h, w, ch)
        px = rng.integers(0, 256, shape, dtype=np.uint8)
        filters = data.draw(
            st.one_of(
                st.none(),
                st.integers(0, 4),
                st.lists(st.integers(0, 4), min_size=h, max_size=h),
            )
        )
        blob = png_bytes(px, filters=filters)
        info = png_info(blob)
        assert (info["width"], info["height"]) == (w, h)
        assert info["channels"] == ch
        back = decode_png(blob)
        assert back.shape == px.shape and (back == px).all()

    check()


# ------------------------------------------------------------------ JPEG


def _gradient_rgb(h, w, phase=0):
    x, y = np.meshgrid(np.arange(w), np.arange(h))
    return np.stack(
        [
            (2 * x + 3 * y + phase) % 180 + 20,
            (x + 5 * y + phase) % 150 + 40,
            (4 * x + y + phase) % 200 + 10,
        ],
        -1,
    ).astype(np.uint8)


def test_jpeg_roundtrip_error_bound_rgb_and_gray():
    """Baseline JPEG is lossy: pin an error BOUND on smooth images,
    across non-multiple-of-8 dims (edge-replication padding path)."""
    from vearch_spark.functions.media import decode_jpeg, jpeg_bytes

    for h, w in [(8, 8), (13, 21), (9, 7), (24, 16)]:
        rgb = _gradient_rgb(h, w)
        out = decode_jpeg(jpeg_bytes(rgb, 90))
        assert out.shape == rgb.shape and out.dtype == np.uint8
        assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 6
        gray = rgb[..., 0]
        gout = decode_jpeg(jpeg_bytes(gray, 90))
        assert gout.shape == gray.shape
        assert np.abs(gout.astype(int) - gray.astype(int)).max() <= 6


def test_jpeg_deterministic_and_quality_behavior():
    from vearch_spark.functions.media import decode_jpeg, jpeg_bytes

    rgb = _gradient_rgb(17, 23)
    b1, b2 = jpeg_bytes(rgb, 85), jpeg_bytes(rgb, 85)
    assert b1 == b2  # encode is byte-deterministic
    assert np.array_equal(decode_jpeg(b1), decode_jpeg(b1))
    # higher quality → larger file and lower mean error
    lo, hi = jpeg_bytes(rgb, 20), jpeg_bytes(rgb, 95)
    assert len(hi) > len(lo)
    err = lambda blob: np.abs(
        decode_jpeg(blob).astype(int) - rgb.astype(int)
    ).mean()
    assert err(hi) < err(lo)
    # q=100 (all-ones luma table is the clamp edge) stays near-exact
    # even on uint8 noise — every DCT/Huffman path exercised hard
    noise = np.random.default_rng(3).integers(0, 256, (24, 17, 3), dtype=np.uint8)
    nout = decode_jpeg(jpeg_bytes(noise, 100))
    assert np.abs(nout.astype(int) - noise.astype(int)).max() <= 3


def test_jpeg_restart_interval_roundtrip():
    """DRI/RSTn: the entropy stream re-syncs and DC predictors reset at
    every restart — decoded pixels identical to the no-DRI stream."""
    from vearch_spark.functions.media import decode_jpeg, jpeg_bytes

    rgb = _gradient_rgb(20, 19)
    plain = decode_jpeg(jpeg_bytes(rgb, 88))
    for dri in (1, 2, 5):
        blob = jpeg_bytes(rgb, 88, restart_interval=dri)
        assert b"\xff\xdd" in blob  # DRI segment present
        assert np.array_equal(decode_jpeg(blob), plain)


def test_jpeg_info_and_typed_rejections():
    from vearch_spark.functions.media import decode_jpeg, jpeg_bytes, jpeg_info

    rgb = _gradient_rgb(13, 21)
    blob = jpeg_bytes(rgb, 90)
    info = jpeg_info(blob)
    assert (info["width"], info["height"]) == (21, 13)
    assert info["components"] == 3 and info["bit_depth"] == 8
    assert info["progressive"] is False

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01" + blob[2:])
    with pytest.raises(ValueError, match="truncated JPEG entropy"):
        decode_jpeg(blob[:-20])
    i = blob.find(b"\xff\xc0")
    # relabeling a BASELINE stream as SOF2 makes its full-band scan
    # illegal under progressive rules — typed rejection, not garbage
    prog = bytearray(blob)
    prog[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive DC scan"):
        decode_jpeg(bytes(prog))
    pinfo = jpeg_info(bytes(prog))
    assert pinfo["progressive"] is True and pinfo["width"] == 21
    # arithmetic coding (SOF9): typed rejection
    arith = bytearray(blob)
    arith[i + 1] = 0xC9
    with pytest.raises(ValueError, match="SOF marker"):
        decode_jpeg(bytes(arith))
    # patching the sampling byte of a 4:4:4 stream to 2x2 changes the
    # MCU geometry out from under the entropy data — typed error, no
    # approximate decode
    sub = bytearray(blob)
    sub[i + 11] = 0x22
    with pytest.raises(ValueError):
        decode_jpeg(bytes(sub))
    # fractional sampling ratio (3 does not divide 2): typed rejection
    frac = bytearray(blob)
    frac[i + 11] = 0x22
    frac[i + 14] = 0x33
    with pytest.raises(ValueError, match="sampling factors"):
        decode_jpeg(bytes(frac))
    with pytest.raises(ValueError, match="quality"):
        jpeg_bytes(rgb, 0)
    with pytest.raises(ValueError, match="expected"):
        jpeg_bytes(np.zeros((4, 4, 2), dtype=np.uint8))
    with pytest.raises(ValueError, match="subsampling"):
        jpeg_bytes(rgb, 80, subsampling="4:2:1")
    with pytest.raises(ValueError, match="baseline-only"):
        jpeg_bytes(rgb, 80, restart_interval=2, progressive=True)


def test_jpeg_decode_reads_tables_from_stream():
    """The decoder honors DQT/DHT as written in the container, not the
    encoder's constants: doubling a stored luma quant entry changes the
    decoded pixels accordingly (proof it dequantizes with the stream's
    table)."""
    from vearch_spark.functions.media import decode_jpeg, jpeg_bytes

    gray = _gradient_rgb(16, 16)[..., 0]
    blob = bytearray(jpeg_bytes(gray, 50))
    base = decode_jpeg(bytes(blob))
    i = blob.find(b"\xff\xdb")
    # DQT body: [2B len][1B pq/tq][64B zigzag table]; entry 0 = DC
    dc_q = blob[i + 5]
    blob[i + 5] = min(255, dc_q * 2)
    bent = decode_jpeg(bytes(blob))
    assert not np.array_equal(base, bent)


def test_jpeg_property_roundtrip_bounded_error():
    """Hypothesis sweep: any small uint8 image decodes within the
    q=95 error envelope and exactly round-trips shape/dtype."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vearch_spark.functions.media import decode_jpeg, jpeg_bytes

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 20),
        w=st.integers(1, 20),
        color=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(h, w, color, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w, 3) if color else (h, w)
        px = rng.integers(0, 256, shape, dtype=np.uint8)
        out = decode_jpeg(jpeg_bytes(px, 95))
        assert out.shape == px.shape and out.dtype == np.uint8
        # uint8 noise is JPEG's worst case; q=95 quant steps bound the
        # per-pixel error well under 64 even there
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 48

    check()


def test_decode_image_dispatches_jpeg_magic():
    from vearch_spark.functions.media import decode_image, jpeg_bytes

    rgb = _gradient_rgb(9, 11)
    out = decode_image(jpeg_bytes(rgb, 95))
    assert out.shape == rgb.shape
    assert np.abs(out * 255.0 - rgb).max() <= 4.0


def test_dhash64_properties():
    """Perceptual-hash basics: deterministic, shape-validated, small
    perturbations move few bits, structural changes move many."""
    from vearch_spark.functions.media import dhash64

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (16, 18, 3), dtype=np.uint8)
    h1 = dhash64(img)
    assert h1 == dhash64(img)  # deterministic
    assert isinstance(h1, int) and -(1 << 63) <= h1 < (1 << 63)  # signed 64
    # gray path agrees with an all-equal-channel RGB image
    gray = img[..., 0]
    rgb_from_gray = np.repeat(gray[..., None], 3, axis=2)
    assert dhash64(gray) == dhash64(rgb_from_gray)
    # one corner-block tweak flips at most a few bits
    tweaked = img.copy()
    tweaked[:2, :2, :] = (tweaked[:2, :2, :].astype(int) + 9) % 256
    ham = bin((h1 ^ dhash64(tweaked)) & ((1 << 64) - 1)).count("1")
    assert ham <= 6
    # an unrelated image lands far away
    other = rng.integers(0, 256, (16, 18, 3), dtype=np.uint8)
    far = bin((h1 ^ dhash64(other)) & ((1 << 64) - 1)).count("1")
    assert far > 10
    with pytest.raises(ValueError, match="H%8"):
        dhash64(np.zeros((10, 18), dtype=np.uint8))
    with pytest.raises(ValueError, match="expected"):
        dhash64(np.zeros((16, 18, 2), dtype=np.uint8))


def test_audio_fingerprint64_properties():
    """Energy-envelope fingerprint: deterministic, survives the WAV
    container round-trip, small perturbations move few bits."""
    from vearch_spark.functions.media import (
        audio_fingerprint64,
        decode_wav_pcm,
        wav_bytes,
    )

    rng = np.random.default_rng(13)
    s = rng.integers(-2048, 2048, 65 * 5, dtype=np.int64)
    h1 = audio_fingerprint64(s)
    assert h1 == audio_fingerprint64(s)
    assert isinstance(h1, int) and -(1 << 63) <= h1 < (1 << 63)
    # through a real RIFF container: identical (PCM is lossless)
    pcm = decode_wav_pcm(wav_bytes(s.astype(np.int16), 8000))
    assert audio_fingerprint64(pcm) == h1
    # boosting one window flips at most its two boundary bits
    tweaked = s.copy()
    tweaked[10 * 5 : 11 * 5] = np.clip(tweaked[10 * 5 : 11 * 5] * 2, -2048, 2047)
    ham = bin((h1 ^ audio_fingerprint64(tweaked)) & ((1 << 64) - 1)).count("1")
    assert ham <= 2
    # unrelated audio lands far away
    other = rng.integers(-2048, 2048, 65 * 5, dtype=np.int64)
    far = bin((h1 ^ audio_fingerprint64(other)) & ((1 << 64) - 1)).count("1")
    assert far > 10
    with pytest.raises(ValueError, match="too short"):
        audio_fingerprint64(np.arange(10))


def test_decoders_fuzz_corruption_typed_errors_only():
    """Scraped corpora contain corrupt bytes: every decoder must either
    succeed or raise ValueError — never struct.error / zlib.error /
    KeyError / IndexError — under single-byte corruption and random
    truncation of valid containers."""
    from vearch_spark.functions.media import (
        decode_jpeg,
        decode_pgm,
        decode_png,
        decode_wav_pcm,
        jpeg_bytes,
        jpeg_info,
        pgm_bytes,
        png_bytes,
        png_info,
        wav_bytes,
        wav_info,
    )

    rng = np.random.default_rng(17)
    rgb = _gradient_rgb(16, 18)
    blobs = {
        decode_png: png_bytes(rgb),
        decode_jpeg: jpeg_bytes(rgb, 88),
        decode_pgm: pgm_bytes(rgb[..., 0]),
        decode_wav_pcm: wav_bytes(
            rng.integers(-3000, 3000, 200).astype(np.int16)
        ),
        png_info: png_bytes(rgb),
        jpeg_info: jpeg_bytes(rgb, 88),
        wav_info: wav_bytes(rng.integers(-3000, 3000, 200).astype(np.int16)),
    }
    for decode, blob in blobs.items():
        for _ in range(120):
            bad = bytearray(blob)
            if rng.integers(2):
                bad[int(rng.integers(len(bad)))] = int(rng.integers(256))
            else:
                bad = bad[: int(rng.integers(1, len(bad)))]
            try:
                decode(bytes(bad))
            except ValueError:
                pass  # the ONLY legal failure mode


def test_image_decoders_reject_decompression_bombs():
    """A hostile header claiming giant dims must raise before any
    giant allocation (both PNG and JPEG)."""
    import struct as _s
    import zlib as _z

    from vearch_spark.functions.media import decode_jpeg, decode_png, jpeg_bytes, png_bytes

    blob = bytearray(png_bytes(np.zeros((4, 4), dtype=np.uint8)))
    blob[16:24] = _s.pack(">II", 60000, 60000)  # IHDR w, h
    body = bytes(blob[12:29])
    blob[29:33] = _s.pack(">I", _z.crc32(body) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="too large"):
        decode_png(bytes(blob))

    jb = bytearray(jpeg_bytes(np.zeros((4, 4), dtype=np.uint8), 80))
    i = jb.find(b"\xff\xc0")
    jb[i + 5 : i + 9] = _s.pack(">HH", 60000, 60000)  # SOF h, w
    with pytest.raises(ValueError, match="too large"):
        decode_jpeg(bytes(jb))


def test_jpeg_tolerates_fill_bytes_and_bounds_inflate():
    """T.81 B.1.1.2: markers may be padded by any number of 0xFF fill
    bytes — real encoders emit them; and a zlib bomb behind an honest
    small PNG header must be rejected without materializing."""
    import zlib as _z

    from vearch_spark.functions.media import decode_jpeg, decode_png, jpeg_bytes

    rgb = _gradient_rgb(12, 14)
    blob = jpeg_bytes(rgb, 90)
    base = decode_jpeg(blob)
    # insert two fill bytes before the DQT marker
    i = blob.find(b"\xff\xdb")
    padded = blob[:i] + b"\xff\xff" + blob[i:]
    assert np.array_equal(decode_jpeg(padded), base)

    # honest 4x4 IHDR, but IDAT inflates to ~1 MB (bomb)
    from vearch_spark.functions.media import _png_chunk, _PNG_SIG
    import struct as _s

    ihdr = _s.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bomb = _z.compress(b"\x00" * 1_000_000, 9)
    blob = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", bomb) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="size mismatch"):
        decode_png(blob)


def test_png_rejects_truncated_zlib_stream():
    """A truncated IDAT stream that still yields the right byte count
    must be rejected (dec.eof requires the final block + adler32
    trailer — the integrity semantics zlib.decompress had before the
    bounded-inflate change)."""
    import struct as _s
    import zlib as _z

    from vearch_spark.functions.media import _png_chunk, _PNG_SIG, decode_png, png_bytes

    px = np.arange(48, dtype=np.uint8).reshape(6, 8)
    blob = png_bytes(px, filters=0)
    assert (decode_png(blob) == px).all()
    # rebuild with the IDAT's zlib stream missing its 4-byte adler32
    raw = b"".join(b"\x00" + px[r].tobytes() for r in range(6))
    cut = _z.compress(raw, 9)[:-4]
    ihdr = _s.pack(">IIBBBBB", 8, 6, 8, 0, 0, 0, 0)
    bad = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", cut) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="truncated|size mismatch"):
        decode_png(bad)


def test_png_palette_roundtrip_8bit_rgb_and_trns():
    """Color-type-3 PNG: indices expand through PLTE to RGB, and a
    tRNS chunk upgrades the result to RGBA with opaque defaults for
    entries past the tRNS length (RFC 2083 §4.2.1)."""
    from vearch_spark.functions.media import decode_png, png_info, png_palette_bytes

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, size=(7, 3), dtype=np.uint8)
    idx = rng.integers(0, 7, size=(9, 13), dtype=np.uint8)
    blob = png_palette_bytes(idx, pal)
    info = png_info(blob)
    assert info["color_type"] == 3 and info["bit_depth"] == 8
    out = decode_png(blob)
    assert out.shape == (9, 13, 3)
    assert (out == pal[idx.astype(np.int64)]).all()

    # tRNS shorter than the palette: entries 0..2 get explicit alpha,
    # 3..6 default to opaque
    blob_a = png_palette_bytes(idx, pal, trns=[0, 128, 7])
    out_a = decode_png(blob_a)
    assert out_a.shape == (9, 13, 4)
    assert (out_a[..., :3] == pal[idx.astype(np.int64)]).all()
    alpha = np.array([0, 128, 7, 255, 255, 255, 255], dtype=np.uint8)
    assert (out_a[..., 3] == alpha[idx.astype(np.int64)]).all()


def test_png_palette_subbyte_depths_pack_msb_first():
    """Bit depths 1/2/4 pack indices MSB-first within each scanline
    byte; widths that don't fill the last byte pad with zero bits
    (RFC 2083 §2.3) — every depth round-trips exactly."""
    from vearch_spark.functions.media import decode_png, png_palette_bytes

    rng = np.random.default_rng(12)
    for depth in (1, 2, 4):
        n = 1 << depth
        pal = rng.integers(0, 256, size=(n, 3), dtype=np.uint8)
        # width 11 never fills the final byte at any sub-byte depth
        idx = rng.integers(0, n, size=(5, 11), dtype=np.uint8)
        out = decode_png(png_palette_bytes(idx, pal, bit_depth=depth))
        assert out.shape == (5, 11, 3), depth
        assert (out == pal[idx.astype(np.int64)]).all(), depth

    # hand-check MSB-first: depth 1, row [1,0,1] must pack as 0b1010_0000
    import struct as _s
    import zlib as _z

    from vearch_spark.functions.media import _png_chunk, _PNG_SIG

    pal2 = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    raw = b"\x00" + bytes([0b10100000])
    ihdr = _s.pack(">IIBBBBB", 3, 1, 1, 3, 0, 0, 0)
    blob = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal2.tobytes())
        + _png_chunk(b"IDAT", _z.compress(raw, 9))
        + _png_chunk(b"IEND", b"")
    )
    out = decode_png(blob)
    assert (out == pal2[np.array([[1, 0, 1]])]).all()


def test_png_palette_hostile_inputs():
    """Hostile palette cases reject with typed errors: index past the
    palette, PLTE missing or mis-sized, tRNS longer than the palette,
    16-bit palette depth."""
    import struct as _s

    from vearch_spark.functions.media import decode_png, png_palette_bytes

    pal = np.array([[1, 2, 3], [4, 5, 6]], dtype=np.uint8)
    idx = np.zeros((2, 2), dtype=np.uint8)
    good = png_palette_bytes(idx, pal)

    # oversized index: rewrite IDAT with index 5 against a 2-entry PLTE
    import zlib as _z

    from vearch_spark.functions.media import _png_chunk, _PNG_SIG

    raw = b"\x00" + bytes([5, 0]) + b"\x00" + bytes([0, 0])
    ihdr = _s.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    bad_idx = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", _z.compress(raw, 9))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="out of range"):
        decode_png(bad_idx)

    # PLTE missing entirely
    no_plte = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(raw, 9))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="missing PLTE"):
        decode_png(no_plte)

    # short (non-multiple-of-3) palette
    bad_plte = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", b"\x01\x02")
        + _png_chunk(b"IDAT", _z.compress(b"\x00\x00\x00\x00\x00\x00", 9))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="PLTE length"):
        decode_png(bad_plte)

    # tRNS longer than the palette
    long_trns = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"tRNS", b"\x00\x01\x02")
        + _png_chunk(b"IDAT", _z.compress(b"\x00\x00\x00\x00\x00\x00", 9))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="tRNS longer"):
        decode_png(long_trns)

    # 16-bit palette depth is illegal per spec
    ihdr16 = _s.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
    bad_depth = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr16)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", _z.compress(raw, 9))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="1/2/4/8"):
        decode_png(bad_depth)

    # encoder-side validation
    with pytest.raises(ValueError, match="index exceeds"):
        png_palette_bytes(np.full((2, 2), 9, dtype=np.uint8), pal)
    with pytest.raises(ValueError, match="bit depth"):
        png_palette_bytes(idx, pal, bit_depth=3)


def test_png_palette_all_filters_on_packed_bytes():
    """Filters on palette rows operate on PACKED bytes with bpp=1
    (RFC 2083 §6.2): re-filter a palette image's scanlines through
    every filter type and confirm identical pixels."""
    import struct as _s
    import zlib as _z

    from vearch_spark.functions.media import (
        _filter_row, _png_chunk, _PNG_SIG, decode_png, png_palette_bytes,
    )

    rng = np.random.default_rng(13)
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(6, 10), dtype=np.uint8)
    base = decode_png(png_palette_bytes(idx, pal, bit_depth=4))

    # rebuild the IDAT with per-row filters 0..4 over the packed bytes
    packed = np.zeros((6, 5), dtype=np.uint8)
    for r in range(6):
        for c in range(10):
            packed[r, c // 2] |= idx[r, c] << (4 if c % 2 == 0 else 0)
    raw = bytearray()
    prev = np.zeros(5, dtype=np.uint8)
    for r in range(6):
        f = r % 5
        raw.append(f)
        raw += _filter_row(f, packed[r], prev, 1).tobytes()
        prev = packed[r]
    ihdr = _s.pack(">IIBBBBB", 10, 6, 4, 3, 0, 0, 0)
    blob = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", _z.compress(bytes(raw), 9))
        + _png_chunk(b"IEND", b"")
    )
    assert (decode_png(blob) == base).all()


def _smooth_rgb(h, w):
    x, y = np.meshgrid(np.arange(w), np.arange(h))
    return np.stack(
        [
            128 + 100 * np.sin(x / 7) * np.cos(y / 9),
            128 + 90 * np.cos(x / 11),
            128 + 80 * np.sin((x + y) / 13),
        ],
        -1,
    ).clip(0, 255).astype(np.uint8)


def test_jpeg_chroma_subsampling_roundtrip():
    """4:2:0 / 4:2:2: chroma is box-averaged before the DCT and
    sample-replicated on decode — bounded error on smooth images,
    exact shape at every odd/even dimension mix, deterministic."""
    from vearch_spark.functions.media import decode_jpeg, jpeg_bytes, jpeg_info

    for sub, samp in [("4:2:0", (2, 2)), ("4:2:2", (2, 1))]:
        for h, w in [(16, 16), (13, 21), (9, 7), (33, 31), (40, 56)]:
            rgb = _smooth_rgb(h, w)
            blob = jpeg_bytes(rgb, 90, subsampling=sub)
            assert jpeg_info(blob)["sampling"] == [samp, (1, 1), (1, 1)]
            out = decode_jpeg(blob)
            assert out.shape == rgb.shape and out.dtype == np.uint8
            err = np.abs(out.astype(int) - rgb.astype(int))
            assert err.max() <= 20 and err.mean() <= 4.0, (sub, h, w)
            assert np.array_equal(out, decode_jpeg(blob))  # deterministic
        # subsampling strictly shrinks the stream on smooth content
        rgb = _smooth_rgb(48, 48)
        assert len(jpeg_bytes(rgb, 90, subsampling=sub)) < len(jpeg_bytes(rgb, 90))


def test_jpeg_subsampled_restart_interval():
    """DRI counts interleaved MCUs (not blocks) under 4:2:0 — decoded
    pixels identical to the no-DRI stream at several intervals."""
    from vearch_spark.functions.media import decode_jpeg, jpeg_bytes

    rgb = _smooth_rgb(34, 37)  # 3x3 MCU grid at 4:2:0 (16px MCUs)
    base = decode_jpeg(jpeg_bytes(rgb, 88, subsampling="4:2:0"))
    for dri in (1, 2, 5):
        blob = jpeg_bytes(rgb, 88, restart_interval=dri, subsampling="4:2:0")
        assert b"\xff\xdd" in blob
        assert np.array_equal(decode_jpeg(blob), base)


def test_jpeg_progressive_matches_baseline_pixels():
    """Progressive (SOF2) encode→decode must reproduce EXACTLY the
    baseline decode of the same image: both paths share the quantized
    coefficients, so the 10-scan spectral-selection + successive-
    approximation round trip is pinned bit-exact — any error in EOB
    runs, refinement bits, or point transforms would break equality."""
    from vearch_spark.functions.media import decode_jpeg, jpeg_bytes, jpeg_info

    for h, w in [(8, 8), (16, 16), (13, 21), (9, 7), (33, 31)]:
        for mk in (_gradient_rgb, _smooth_rgb):
            rgb = mk(h, w)
            pblob = jpeg_bytes(rgb, 90, progressive=True)
            assert jpeg_info(pblob)["progressive"] is True
            assert np.array_equal(
                decode_jpeg(pblob), decode_jpeg(jpeg_bytes(rgb, 90))
            ), (h, w, mk.__name__)
            gray = rgb[..., 0]
            assert np.array_equal(
                decode_jpeg(jpeg_bytes(gray, 90, progressive=True)),
                decode_jpeg(jpeg_bytes(gray, 90)),
            ), ("gray", h, w)


def test_jpeg_progressive_subsampled_and_noise():
    """Progressive composes with chroma subsampling; uint8 noise at
    q=100 drives the refinement/EOB-run machinery hardest (dense
    nonzero coefficients at every successive-approximation level)."""
    from vearch_spark.functions.media import decode_jpeg, jpeg_bytes

    for sub in ("4:2:0", "4:2:2"):
        rgb = _smooth_rgb(21, 19)
        assert np.array_equal(
            decode_jpeg(jpeg_bytes(rgb, 85, subsampling=sub, progressive=True)),
            decode_jpeg(jpeg_bytes(rgb, 85, subsampling=sub)),
        ), sub
    noise = np.random.default_rng(3).integers(0, 256, (24, 17, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(jpeg_bytes(noise, 100, progressive=True)),
        decode_jpeg(jpeg_bytes(noise, 100)),
    )
    # byte-deterministic (two-pass optimal-Huffman tables included)
    assert jpeg_bytes(noise, 95, progressive=True) == jpeg_bytes(
        noise, 95, progressive=True
    )


def test_jpeg_progressive_fuzz_typed_errors_only():
    """Single-byte corruption / truncation of a progressive stream
    (multi-scan walk, per-scan DHT, refinement bits) must succeed or
    raise ValueError — never an incidental exception type."""
    from vearch_spark.functions.media import decode_jpeg, jpeg_bytes

    rng = np.random.default_rng(23)
    blob = jpeg_bytes(_smooth_rgb(18, 22), 88, progressive=True)
    for _ in range(200):
        bad = bytearray(blob)
        if rng.integers(2):
            bad[int(rng.integers(len(bad)))] = int(rng.integers(256))
        else:
            bad = bad[: int(rng.integers(1, len(bad)))]
        try:
            decode_jpeg(bytes(bad))
        except ValueError:
            pass  # the ONLY legal failure mode


def test_jpeg_header_walk_skips_standalone_markers():
    """TEM (0x01) and stray RSTn markers carry no length field — the
    header walk must skip them rather than misparse their neighbors
    as a segment length (T.81 B.1.1.2)."""
    from vearch_spark.functions.media import decode_jpeg, jpeg_bytes

    rgb = _gradient_rgb(12, 14)
    blob = jpeg_bytes(rgb, 90)
    base = decode_jpeg(blob)
    i = blob.find(b"\xff\xdb")
    for standalone in (b"\xff\x01", b"\xff\xd3"):
        padded = blob[:i] + standalone + blob[i:]
        assert np.array_equal(decode_jpeg(padded), base), standalone


def test_jpeg_rejects_trailing_entropy_data():
    """A scan whose entropy data outlives its declared geometry (e.g.
    a tampered sampling byte turning 4:4:4 into 2x2) must raise, not
    silently decode a prefix into garbage pixels."""
    from vearch_spark.functions.media import decode_jpeg, jpeg_bytes

    blob = jpeg_bytes(_gradient_rgb(13, 21), 90)
    i = blob.find(b"\xff\xc0")
    sub = bytearray(blob)
    sub[i + 11] = 0x22  # comp 0: 1x1 → 2x2
    with pytest.raises(ValueError, match="unconsumed entropy"):
        decode_jpeg(bytes(sub))


def test_png_adam7_pass_table_matches_canonical_tile():
    """The Adam7 pass grid must reproduce the canonical 8×8 pattern of
    RFC 2083 §2.6 exactly — every pixel covered exactly once."""
    from vearch_spark.functions.media import _ADAM7

    canon = [
        [1, 6, 4, 6, 2, 6, 4, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
        [5, 6, 5, 6, 5, 6, 5, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
        [3, 6, 4, 6, 3, 6, 4, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
        [5, 6, 5, 6, 5, 6, 5, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
    ]
    got = [[0] * 8 for _ in range(8)]
    for p, (x0, y0, dx, dy) in enumerate(_ADAM7, 1):
        for y in range(y0, 8, dy):
            for x in range(x0, 8, dx):
                assert got[y][x] == 0  # no double coverage
                got[y][x] = p
    assert got == canon


def test_png_adam7_roundtrip_all_color_types_and_filters():
    """Interlaced encode→decode is bit-exact for every color type at
    odd/even/degenerate dims (empty passes contribute no bytes — dims
    below 8 skip whole passes), and each pass filters independently
    (per-pass prev-row reset)."""
    from vearch_spark.functions.media import decode_png, png_bytes, png_info

    rng = np.random.default_rng(31)
    shapes = [(7, 5), (6, 9, 2), (16, 9, 3), (5, 13, 4), (1, 1),
              (2, 300, 3), (9, 1), (1, 9), (23, 17, 3)]
    for shape in shapes:
        px = rng.integers(0, 256, shape, dtype=np.uint8)
        for filt in (0, 2, 4, None):
            blob = png_bytes(px, filters=filt, interlace=True)
            assert png_info(blob)["interlace"] == 1
            back = decode_png(blob)
            assert back.shape == px.shape and (back == px).all(), (shape, filt)


def test_png_adam7_palette_roundtrip_every_depth():
    """Interlaced palette: each pass re-packs its own sub-byte
    scanlines, so pass widths that split mid-byte are the hard case —
    exact through PLTE (and RGBA through tRNS) at every depth."""
    from vearch_spark.functions.media import decode_png, png_palette_bytes

    rng = np.random.default_rng(32)
    for depth in (1, 2, 4, 8):
        n = min(1 << depth, 7)
        pal = rng.integers(0, 256, size=(n, 3), dtype=np.uint8)
        idx = rng.integers(0, n, size=(11, 13), dtype=np.uint8)
        out = decode_png(png_palette_bytes(idx, pal, bit_depth=depth, interlace=True))
        assert (out == pal[idx.astype(np.int64)]).all(), depth
        out_a = decode_png(
            png_palette_bytes(idx, pal, trns=[5] * min(n, 2),
                              bit_depth=depth, interlace=True)
        )
        assert out_a.shape == (11, 13, 4), depth


def test_png_adam7_fuzz_and_bounded_inflate():
    """Interlaced streams under single-byte corruption / truncation:
    ValueError or success only; and the bounded-inflate expectation is
    the per-pass sum, so a bomb behind an interlaced header still
    rejects without materializing."""
    import struct as _s
    import zlib as _z

    from vearch_spark.functions.media import (
        _png_chunk, _PNG_SIG, decode_png, png_bytes,
    )

    rng = np.random.default_rng(33)
    blob = png_bytes(
        rng.integers(0, 256, (12, 14, 3), dtype=np.uint8), interlace=True
    )
    for _ in range(150):
        bad = bytearray(blob)
        if rng.integers(2):
            bad[int(rng.integers(len(bad)))] = int(rng.integers(256))
        else:
            bad = bad[: int(rng.integers(1, len(bad)))]
        try:
            decode_png(bytes(bad))
        except ValueError:
            pass  # the ONLY legal failure mode

    ihdr = _s.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1)  # interlaced 4x4 gray
    bomb = _z.compress(b"\x00" * 1_000_000, 9)
    hostile = (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", bomb) + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="size mismatch"):
        decode_png(hostile)


# -------------------------------------------------------------------- GIF


def test_gif_single_frame_roundtrip_every_palette_size():
    """Lossless single-image GIF: indices → LZW → decode recovers the
    exact palette expansion at palette sizes crossing every color-
    table-bits boundary (2 → 256)."""
    from vearch_spark.functions.media import decode_gif, gif_bytes, gif_info

    rng = np.random.default_rng(41)
    for npal in (2, 3, 7, 16, 200, 256):
        pal = rng.integers(0, 256, (npal, 3), dtype=np.uint8)
        idx = rng.integers(0, npal, (13, 17), dtype=np.uint8)
        blob = gif_bytes(idx, pal)
        info = gif_info(blob)
        assert (info["width"], info["height"], info["n_frames"]) == (17, 13, 1)
        frames = decode_gif(blob)
        assert frames.shape == (1, 13, 17, 3)
        assert (frames[0] == pal[idx.astype(np.int64)]).all(), npal


def test_gif_lzw_dictionary_overflow_and_interlace():
    """A 9000-index random stream at 256 colors forces code widths to
    12 bits and a mid-stream CLEAR (dictionary overflow at 4096) —
    round-trip must stay exact; same for GIF's 4-pass row interlace."""
    from vearch_spark.functions.media import decode_gif, gif_bytes

    rng = np.random.default_rng(42)
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, (100, 90), dtype=np.uint8)
    assert (decode_gif(gif_bytes(idx, pal))[0] == pal[idx.astype(np.int64)]).all()
    idx2 = rng.integers(0, 16, (23, 9), dtype=np.uint8)
    pal16 = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    assert (
        decode_gif(gif_bytes(idx2, pal16, interlace=True))[0]
        == pal16[idx2.astype(np.int64)]
    ).all()


def test_gif_animation_transparency_and_disposal_2():
    """Animated GIF89a with a transparency index: disposal 2 clears
    each frame's rect, so every frame composites from a fresh canvas —
    transparent pixels carry alpha 0, opaque ones their exact palette
    color."""
    from vearch_spark.functions.media import decode_gif, gif_bytes, gif_info

    rng = np.random.default_rng(43)
    stack = rng.integers(0, 8, (5, 11, 14), dtype=np.uint8)
    pal8 = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    blob = gif_bytes(stack, pal8, transparent=0)
    info = gif_info(blob)
    assert info["n_frames"] == 5 and info["version"] == "89a"
    frames = decode_gif(blob)
    assert frames.shape == (5, 11, 14, 4)
    for f in range(5):
        opaque = stack[f] != 0
        assert (frames[f][opaque, :3] == pal8[stack[f].astype(np.int64)][opaque]).all()
        assert (frames[f][opaque, 3] == 255).all()
        assert (frames[f][~opaque, 3] == 0).all()
    # no transparency → plain RGB frames, exact
    frames3 = decode_gif(gif_bytes(stack, pal8))
    assert frames3.shape == (5, 11, 14, 3)
    for f in range(5):
        assert (frames3[f] == pal8[stack[f].astype(np.int64)]).all()


def test_gif_disposal_1_subrect_compositing():
    """Hand-built stream (not our encoder's shape): frame 2 is a 2×2
    sub-rectangle with a transparent hole over a disposal-1 (keep)
    frame 1 — holes and outside pixels must show frame 1's color,
    exactly the 89a compositing model."""
    import struct

    from vearch_spark.functions import media as M

    pal = np.array([[10, 10, 10], [200, 0, 0], [0, 200, 0]], dtype=np.uint8)
    f1 = np.full((6, 8), 1, dtype=np.uint8)
    f2 = np.array([[2, 0], [0, 2]], dtype=np.uint8)
    out = bytearray(b"GIF89a") + struct.pack("<HH", 8, 6) + bytes([0x80 | 1, 0, 0])
    out += pal.tobytes() + b"\x00\x00\x00"
    out += b"\x21\xf9\x04" + bytes([1 << 2]) + struct.pack("<H", 4) + bytes([0, 0])
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, 8, 6) + b"\x00" + bytes([2])
    out += M._gif_subblocks(M._lzw_compress(f1.ravel(), 2))
    out += b"\x21\xf9\x04" + bytes([(1 << 2) | 1]) + struct.pack("<H", 4) + bytes([0, 0])
    out += b"\x2c" + struct.pack("<HHHH", 3, 2, 2, 2) + b"\x00" + bytes([2])
    out += M._gif_subblocks(M._lzw_compress(f2.ravel(), 2))
    out += b"\x3b"
    fr = M.decode_gif(bytes(out))
    assert fr.shape == (2, 6, 8, 4)
    assert (fr[0][..., :3] == pal[1]).all() and (fr[0][..., 3] == 255).all()
    exp = np.full((6, 8, 3), pal[1], dtype=np.uint8)
    exp[2, 3] = pal[2]
    exp[3, 4] = pal[2]
    assert (fr[1][..., :3] == exp).all() and (fr[1][..., 3] == 255).all()


def test_gif_disposal_3_restore_to_previous():
    """Disposal 3: after a frame is emitted, its rect reverts to the
    PRE-frame canvas — frame 3 must composite over frame 1's pixels,
    not frame 2's (regression: r7 silently treated 3 as keep).
    Reserved methods 4..7 raise typed."""
    import struct

    from vearch_spark.functions import media as M

    pal = np.array(
        [[10, 10, 10], [200, 0, 0], [0, 200, 0], [0, 0, 200]], dtype=np.uint8
    )

    def gce(disposal):
        return b"\x21\xf9\x04" + bytes([disposal << 2]) + struct.pack(
            "<H", 4
        ) + bytes([0, 0])

    def frame(left, top, fw, fh, idx):
        return (
            b"\x2c"
            + struct.pack("<HHHH", left, top, fw, fh)
            + b"\x00"
            + bytes([2])
            + M._gif_subblocks(M._lzw_compress(idx.ravel(), 2))
        )

    hdr = bytearray(b"GIF89a") + struct.pack("<HH", 4, 4) + bytes(
        [0x80 | 1, 0, 0]
    ) + pal.tobytes()
    # f1: full canvas color 1 (keep); f2: 2×2 rect color 2, disposal 3;
    # f3: 1×1 rect color 3 inside f2's rect
    out = bytes(hdr) + gce(1) + frame(
        0, 0, 4, 4, np.full((4, 4), 1, np.uint8)
    ) + gce(3) + frame(
        1, 1, 2, 2, np.full((2, 2), 2, np.uint8)
    ) + gce(0) + frame(
        1, 1, 1, 1, np.full((1, 1), 3, np.uint8)
    ) + b"\x3b"
    fr = M.decode_gif(out)
    assert fr.shape == (3, 4, 4, 3)
    assert (fr[1][1:3, 1:3] == pal[2]).all()
    # frame 3: f2's rect REVERTED to f1's color except the new pixel
    assert (fr[2][1, 1] == pal[3]).all()
    assert (fr[2][1, 2] == pal[1]).all() and (fr[2][2, 1] == pal[1]).all()
    assert (fr[2][2, 2] == pal[1]).all()
    # reserved disposal 4 raises typed
    bad = bytes(hdr) + gce(4) + frame(
        0, 0, 4, 4, np.full((4, 4), 1, np.uint8)
    ) + b"\x3b"
    with pytest.raises(ValueError, match="reserved GIF disposal"):
        M.decode_gif(bad)


def test_png_bytes_filters_list_exact_length():
    """A per-row filters list with the wrong length is a caller bug
    and raises (regression: r7 accepted too-long lists silently).
    Non-interlaced expects exactly H entries; Adam7 expects exactly
    the tallest pass's height."""
    from vearch_spark.functions.media import decode_png, png_bytes

    px = np.arange(9 * 5, dtype=np.uint8).reshape(9, 5)
    assert (decode_png(png_bytes(px, filters=[0, 1, 2, 3, 4, 0, 1, 2, 3])) == px).all()
    for bad in ([0] * 8, [0] * 10):
        with pytest.raises(ValueError, match="filters: expected exactly 9"):
            png_bytes(px, filters=bad)
    # Adam7 on 9 rows: tallest pass (pass 7, rows 1,3,5,7) has 4 rows...
    # compute from the same formula the encoder documents
    from vearch_spark.functions.media import _ADAM7

    need = max((9 - y0 + dy - 1) // dy for _, y0, _, dy in _ADAM7 if 9 > y0)
    good = list(range(need))
    assert (
        decode_png(png_bytes(px, filters=[f % 5 for f in good], interlace=True))
        == px
    ).all()
    with pytest.raises(ValueError, match=f"filters: expected exactly {need}"):
        png_bytes(px, filters=[0] * (need + 1), interlace=True)


def test_gif_hostile_inputs_typed_errors():
    """Hostile GIF cases reject typed: LZW payload ballooning past the
    declared frame geometry (decompression bomb), frame rect outside
    the logical screen, index past the color table, truncation, and
    single-byte fuzz across the whole container."""
    import struct

    from vearch_spark.functions import media as M

    rng = np.random.default_rng(44)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, (9, 12), dtype=np.uint8)
    good = M.gif_bytes(idx, pal, transparent=1)

    # declared 2x2 frame whose LZW stream inflates to 9x12 indices
    bomb = bytearray(b"GIF87a") + struct.pack("<HH", 12, 9) + bytes([0x80 | 2, 0, 0])
    bomb += pal.tobytes()
    bomb += b"\x2c" + struct.pack("<HHHH", 0, 0, 2, 2) + b"\x00" + bytes([3])
    bomb += M._gif_subblocks(M._lzw_compress(idx.ravel(), 3))
    bomb += b"\x3b"
    with pytest.raises(ValueError, match="exceeds frame geometry"):
        M.decode_gif(bytes(bomb))

    # frame rect outside the logical screen
    oob = bytearray(b"GIF87a") + struct.pack("<HH", 4, 4) + bytes([0x80 | 2, 0, 0])
    oob += pal.tobytes()
    oob += b"\x2c" + struct.pack("<HHHH", 3, 0, 4, 4) + b"\x00" + bytes([3])
    oob += M._gif_subblocks(M._lzw_compress(np.zeros(16, np.uint8), 3))
    oob += b"\x3b"
    with pytest.raises(ValueError, match="outside logical screen"):
        M.decode_gif(bytes(oob))

    for _ in range(200):
        bad = bytearray(good)
        if rng.integers(2):
            bad[int(rng.integers(len(bad)))] = int(rng.integers(256))
        else:
            bad = bad[: int(rng.integers(1, len(bad)))]
        try:
            M.decode_gif(bytes(bad))
        except ValueError:
            pass  # the ONLY legal failure mode
        try:
            M.gif_info(bytes(bad))
        except ValueError:
            pass

    with pytest.raises(ValueError, match="palette"):
        M.gif_bytes(idx, pal[:1])
    with pytest.raises(ValueError, match="index exceeds"):
        M.gif_bytes(np.full((2, 2), 9, np.uint8), pal)
    with pytest.raises(ValueError, match="transparent"):
        M.gif_bytes(idx, pal, transparent=99)


def test_decode_image_dispatches_gif_magic():
    from vearch_spark.functions.media import decode_image, gif_bytes

    pal = np.array([[0, 0, 0], [255, 128, 64]], dtype=np.uint8)
    idx = np.array([[0, 1], [1, 0]], dtype=np.uint8)
    out = decode_image(gif_bytes(idx, pal))
    assert out.shape == (2, 2, 3)
    assert np.allclose(out * 255.0, pal[idx.astype(np.int64)])


def test_gif_lzw_width_boundary_sweep():
    """Regression for a real encoder bug: the decoder adds one
    dictionary entry after reading the FINAL real code, and if that
    add lands on a power-of-two boundary it reads EOI one bit wider
    than a naive encoder writes it. Sweep every alphabet size ×
    length × content shape that crosses width boundaries."""
    from vearch_spark.functions.media import _lzw_compress, _lzw_decompress

    rng = np.random.default_rng(5)
    for mcs in range(2, 9):
        n = 1 << mcs
        for ln in list(range(1, 70)) + [500]:
            for kind in ("alt", "run", "rand"):
                if kind == "alt":
                    seq = np.array(
                        [(j % 2) * (n - 1) for j in range(ln)], dtype=np.uint8
                    )
                elif kind == "run":
                    seq = np.zeros(ln, dtype=np.uint8)
                else:
                    seq = rng.integers(0, n, ln, dtype=np.uint8)
                out = _lzw_decompress(_lzw_compress(seq, mcs), mcs, ln)
                assert (out == seq).all(), (mcs, ln, kind)


# -------------------------------------------------------------------- AVI


def test_avi_dib_exact_roundtrip_with_row_padding():
    """Uncompressed-DIB AVI is lossless: bottom-up BGR rows with
    4-byte padding must unpack to the exact source frames — widths 7
    and 13 force nonzero padding, 8 hits the aligned case."""
    from vearch_spark.functions.media import avi_bytes, avi_info, decode_avi

    rng = np.random.default_rng(51)
    for n, h, w in [(1, 5, 7), (4, 9, 13), (3, 8, 8), (2, 16, 6)]:
        stack = rng.integers(0, 256, (n, h, w, 3), dtype=np.uint8)
        blob = avi_bytes(stack, codec="DIB", fps=12)
        info = avi_info(blob)
        assert (info["width"], info["height"], info["n_frames"], info["fps"]) == (
            w, h, n, 12,
        )
        assert info["codec"] == "DIB"
        back = decode_avi(blob)
        assert back.shape == stack.shape and (back == stack).all(), (n, h, w)


def test_avi_mjpeg_error_bound_and_determinism():
    """MJPEG AVI: every '00dc' chunk is a complete baseline JPEG
    decoded by this module's own T.81 decoder — bounded error on
    smooth frames, deterministic bytes and pixels."""
    from vearch_spark.functions.media import avi_bytes, avi_info, decode_avi

    x, y = np.meshgrid(np.arange(33), np.arange(24))
    stack = np.stack(
        [
            np.stack([20 + f * 3 + (1 + c) * x // 2 + (3 - c) * y // 2
                      for c in range(3)], -1)
            for f in range(5)
        ]
    ).clip(0, 255).astype(np.uint8)
    blob = avi_bytes(stack, codec="MJPG", quality=90)
    assert blob == avi_bytes(stack, codec="MJPG", quality=90)
    assert avi_info(blob)["codec"] == "MJPG"
    back = decode_avi(blob)
    assert back.shape == stack.shape
    assert np.abs(back.astype(int) - stack.astype(int)).max() <= 8
    assert np.array_equal(back, decode_avi(blob))


def test_avi_hostile_inputs_typed_errors():
    """RIFF walking under fuzz/truncation: ValueError or success only;
    geometry mismatches (frame dims vs container header) reject."""
    import struct as _s

    from vearch_spark.functions.media import avi_bytes, avi_info, decode_avi

    rng = np.random.default_rng(52)
    stack = rng.integers(0, 256, (3, 6, 9, 3), dtype=np.uint8)
    blob = avi_bytes(stack, codec="DIB")
    for _ in range(300):
        bad = bytearray(blob)
        if rng.integers(2):
            bad[int(rng.integers(len(bad)))] = int(rng.integers(256))
        else:
            bad = bad[: int(rng.integers(1, len(bad)))]
        try:
            decode_avi(bytes(bad))
        except ValueError:
            pass  # the ONLY legal failure mode
        try:
            avi_info(bytes(bad))
        except ValueError:
            pass

    # container claims 9x6 but avih is rewritten to 4x4 → frame
    # geometry mismatch must reject, not reshape garbage
    i = blob.find(b"avih")
    patched = bytearray(blob)
    patched[i + 8 + 32 : i + 8 + 40] = _s.pack("<II", 4, 4)
    with pytest.raises(ValueError, match="size mismatch|geometry"):
        decode_avi(bytes(patched))

    with pytest.raises(ValueError, match="RIFF"):
        decode_avi(b"JUNK" + blob[4:])
    with pytest.raises(ValueError, match="codec"):
        avi_bytes(stack, codec="h264")
    with pytest.raises(ValueError, match="expected"):
        avi_bytes(np.zeros((2, 3, 4), dtype=np.uint8).reshape(2, 3, 4))


def test_avi_video_decoder_registered_through_multimodal(spark):
    """The 'video' kind flows through the multimodal extract_features
    Arrow path with the REAL AVI decoder (DIB frames, exact)."""
    from vearch_spark.functions.media import avi_bytes, register_media_decoders
    from vearch_spark.operators import multimodal as mm

    register_media_decoders()
    try:
        rng = np.random.default_rng(53)
        stack = rng.integers(0, 256, (2, 4, 5, 3), dtype=np.uint8)
        rows = [("v1", "video", bytearray(avi_bytes(stack, codec="DIB")),
                 None, None, None, None)]
        df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
        out = mm.extract_features(df, kind="video", feature_dim=8).collect()
        want = (stack.astype(np.float64) / 255.0).ravel()[:8]
        assert np.allclose(np.array(out[0].feature, dtype=np.float64), want)
    finally:
        mm._DECODERS.pop("audio", None)
        mm._DECODERS.pop("image", None)
        mm._DECODERS.pop("video", None)


def test_png_16bit_roundtrip_all_color_types():
    """16-bit PNG (big-endian sample pairs, filters over bytes with
    bpp = 2·channels): exact uint16 round-trip for every color type,
    interlaced and not, including the 0 / 65535 extremes; decode_image
    scales by 65535."""
    from vearch_spark.functions.media import (
        decode_image, decode_png, png_bytes, png_info,
    )

    rng = np.random.default_rng(61)
    for shape in [(7, 5), (6, 9, 2), (16, 9, 3), (5, 13, 4), (1, 1)]:
        px = rng.integers(0, 65536, shape, dtype=np.uint16)
        px.flat[0] = 0
        px.flat[-1] = 65535
        for inter in (False, True):
            blob = png_bytes(px, interlace=inter)
            assert png_info(blob)["bit_depth"] == 16
            back = decode_png(blob)
            assert back.dtype == np.uint16 and back.shape == px.shape
            assert (back == px).all(), (shape, inter)
    img = decode_image(png_bytes(np.array([[0, 65535]], dtype=np.uint16)))
    assert np.allclose(img, [[0.0, 1.0]])


def test_bmp_roundtrip_and_hostile_inputs():
    """24-bit BMP: exact round-trip (row padding at widths 7/13/6),
    top-down (negative height) handling, decode_image dispatch, typed
    rejections for other depths/compressions and fuzz."""
    import struct as _s

    from vearch_spark.functions.media import bmp_bytes, decode_bmp, decode_image

    rng = np.random.default_rng(71)
    px = None
    for h, w in [(5, 7), (9, 13), (8, 8), (1, 1), (16, 6)]:
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert (decode_bmp(bmp_bytes(px)) == px).all(), (h, w)
    assert np.allclose(decode_image(bmp_bytes(px)) * 255.0, px)

    blob = bytearray(bmp_bytes(px))
    blob[22:26] = _s.pack("<i", -16)  # top-down: same bytes, flipped rows
    assert (decode_bmp(bytes(blob)) == px[::-1]).all()

    bad = bytearray(bmp_bytes(px))
    bad[28] = 8  # bpp
    with pytest.raises(ValueError, match="24-bit"):
        decode_bmp(bytes(bad))
    with pytest.raises(ValueError, match="signature"):
        decode_bmp(b"XX" + bytes(bmp_bytes(px))[2:])
    good = bmp_bytes(px)
    for _ in range(150):
        b = bytearray(good)
        if rng.integers(2):
            b[int(rng.integers(len(b)))] = int(rng.integers(256))
        else:
            b = b[: int(rng.integers(1, len(b)))]
        try:
            decode_bmp(bytes(b))
        except ValueError:
            pass  # the ONLY legal failure mode


def test_gif_property_roundtrip():
    """Hypothesis sweep: any (frame stack, palette, transparency,
    interlace) combination in the supported envelope round-trips
    exactly — LZW width boundaries land at arbitrary stream offsets."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vearch_spark.functions.media import decode_gif, gif_bytes

    @settings(max_examples=25, deadline=None)
    @given(
        n=st.integers(1, 4),
        h=st.integers(1, 12),
        w=st.integers(1, 12),
        npal=st.integers(2, 256),
        trans=st.booleans(),
        inter=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(n, h, w, npal, trans, inter, seed):
        rng = np.random.default_rng(seed)
        pal = rng.integers(0, 256, (npal, 3), dtype=np.uint8)
        stack = rng.integers(0, npal, (n, h, w), dtype=np.uint8)
        blob = gif_bytes(
            stack, pal, transparent=0 if trans else None, interlace=inter
        )
        frames = decode_gif(blob)
        ch = 4 if trans else 3
        assert frames.shape == (n, h, w, ch)
        exp = pal[stack.astype(np.int64)]
        if not trans:
            assert (frames == exp).all()
            return
        # disposal 2 on multi-frame (our encoder's animation mode);
        # single-frame streams have no disposal to worry about either
        for f in range(n):
            opaque = stack[f] != 0
            assert (frames[f][opaque, :3] == exp[f][opaque]).all()
            assert (frames[f][opaque, 3] == 255).all()
            if n > 1 or f == 0:
                assert (frames[f][~opaque, 3] == 0).all()

    check()


def test_avi_property_roundtrip_dib():
    """Hypothesis sweep: any DIB frame stack round-trips exactly at
    any (row-padding) width."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vearch_spark.functions.media import avi_bytes, decode_avi

    @settings(max_examples=25, deadline=None)
    @given(
        n=st.integers(1, 5),
        h=st.integers(1, 16),
        w=st.integers(1, 16),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(n, h, w, seed):
        rng = np.random.default_rng(seed)
        stack = rng.integers(0, 256, (n, h, w, 3), dtype=np.uint8)
        assert (decode_avi(avi_bytes(stack, codec="DIB")) == stack).all()

    check()


def test_jpeg_interleaved_scan_permuted_component_order():
    """Foreign-stream shape: a single INTERLEAVED sequential scan whose
    SOS lists the components in a permuted order (Cr, Cb, Y). T.81
    B.2.3 says the MCU interleave follows the SOS order, so a decoder
    walking SOF order would cross the planes against the wrong DC
    predictors and quant tables — distinct code path from the
    one-scan-per-component case (the MCU block schedule, not the
    per-component grid)."""
    from vearch_spark.functions import media as M

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    base_blob = M.jpeg_bytes(rgb, 90)
    base_px = M.decode_jpeg(base_blob)

    st = M._jpeg_parse_headers(base_blob)
    geo = M._jpeg_geometry(
        st["height"], st["width"], [(c["h"], c["v"]) for c in st["comps"]]
    )
    coef = [
        np.zeros((c["bh"], c["bw"], 64), dtype=np.int64) for c in geo["comps"]
    ]
    M._jpeg_decode_scan(base_blob, st, geo, coef)

    dc_tabs = [
        M._huff_encode_table(M._DC_L_BITS, M._DC_L_VALS),
        M._huff_encode_table(M._DC_C_BITS, M._DC_C_VALS),
    ]
    ac_tabs = [
        M._huff_encode_table(M._AC_L_BITS, M._AC_L_VALS),
        M._huff_encode_table(M._AC_C_BITS, M._AC_C_VALS),
    ]
    order = [2, 1, 0]
    wtr = M._BitWriter()
    pred = [0, 0, 0]
    gc = geo["comps"]
    for my in range(geo["mcuy"]):
        for mx in range(geo["mcux"]):
            for ci in order:
                c = gc[ci]
                t = min(ci, 1)
                for by in range(c["sv"]):
                    for bx in range(c["sh"]):
                        zz = coef[ci][my * c["sv"] + by, mx * c["sh"] + bx]
                        M._jpeg_put_coeff(
                            wtr, dc_tabs[t], 0, int(zz[0]) - pred[ci]
                        )
                        pred[ci] = int(zz[0])
                        run = 0
                        nz = np.nonzero(zz[1:])[0]
                        last = nz[-1] + 1 if len(nz) else 0
                        for k in range(1, last + 1):
                            v = int(zz[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = ac_tabs[t][0xF0]
                                wtr.put(code, ln)
                                run -= 16
                            M._jpeg_put_coeff(wtr, ac_tabs[t], run, v)
                            run = 0
                        if last < 63:
                            code, ln = ac_tabs[t][0x00]
                            wtr.put(code, ln)
    wtr.flush()
    sos_at = base_blob.find(b"\xff\xda")
    blob = (
        base_blob[:sos_at]
        + M._sos_segment(
            [(ci + 1, min(ci, 1), min(ci, 1)) for ci in order], 0, 63, 0, 0
        )
        + wtr.buf
        + b"\xff\xd9"
    )
    assert np.array_equal(M.decode_jpeg(blob), base_px)


def test_jpeg_sequential_multi_scan_reverse_component_order():
    """Foreign-stream shape our encoder never emits: a SEQUENTIAL
    3-component frame coded as three separate non-interleaved scans in
    REVERSE component order (Cr, Cb, Y). T.81 allows it, and the r6
    ADVICE flagged that decoding in SOF order instead of SOS order
    would silently scramble planes — the decoder must reproduce the
    interleaved stream's pixels exactly (same coefficients, same
    tables)."""
    import struct as _s

    from vearch_spark.functions import media as M

    x, y = np.meshgrid(np.arange(21), np.arange(13))
    rgb = np.stack(
        [20 + (1 + c) * x // 2 + (3 - c) * y // 2 for c in range(3)], -1
    ).clip(0, 255).astype(np.uint8)
    base_blob = M.jpeg_bytes(rgb, 88)
    base_px = M.decode_jpeg(base_blob)

    # recover the quantized coefficients from the interleaved stream
    st = M._jpeg_parse_headers(base_blob)
    geo = M._jpeg_geometry(
        st["height"], st["width"], [(c["h"], c["v"]) for c in st["comps"]]
    )
    coef = [
        np.zeros((c["bh"], c["bw"], 64), dtype=np.int64) for c in geo["comps"]
    ]
    M._jpeg_decode_scan(base_blob, st, geo, coef)

    # rebuild: headers up to (not including) the original SOS, then one
    # sequential scan per component, in reverse order
    sos_at = base_blob.find(b"\xff\xda")
    out = bytearray(base_blob[:sos_at])
    dc_tabs = [
        M._huff_encode_table(M._DC_L_BITS, M._DC_L_VALS),
        M._huff_encode_table(M._DC_C_BITS, M._DC_C_VALS),
    ]
    ac_tabs = [
        M._huff_encode_table(M._AC_L_BITS, M._AC_L_VALS),
        M._huff_encode_table(M._AC_C_BITS, M._AC_C_VALS),
    ]
    for ci in (2, 1, 0):
        t = min(ci, 1)
        out += M._sos_segment([(ci + 1, t, t)], 0, 63, 0, 0)
        wtr = M._BitWriter()
        pred = 0
        c = geo["comps"][ci]
        for by in range(c["nbh"]):
            for bx in range(c["nbw"]):
                zz = coef[ci][by, bx]
                M._jpeg_put_coeff(wtr, dc_tabs[t], 0, int(zz[0]) - pred)
                pred = int(zz[0])
                run = 0
                nz = np.nonzero(zz[1:])[0]
                last = nz[-1] + 1 if len(nz) else 0
                for k in range(1, last + 1):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = ac_tabs[t][0xF0]
                        wtr.put(code, ln)
                        run -= 16
                    M._jpeg_put_coeff(wtr, ac_tabs[t], run, v)
                    run = 0
                if last < 63:
                    code, ln = ac_tabs[t][0x00]
                    wtr.put(code, ln)
        wtr.flush()
        out += wtr.buf
    out += b"\xff\xd9"
    assert np.array_equal(M.decode_jpeg(bytes(out)), base_px)


# ------------------------------------------------------------- WebP VP8L


def _vp8l_wrap(w, h, body_fn, alpha=0):
    """Hand-assemble a VP8L stream: header + body_fn(writer) bits."""
    import struct

    from vearch_spark.functions import media as M

    wtr = M._LSBBitWriter()
    wtr.put(0x2F, 8)
    wtr.put(w - 1, 14)
    wtr.put(h - 1, 14)
    wtr.put(alpha, 1)
    wtr.put(0, 3)
    body_fn(wtr)
    body = wtr.flush()
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) % 2:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _vp8l_emit_literal_image(wtr, argb_list, main=False):
    """Entropy-coded image body: no cache, one group, literals only.
    ``main=True`` writes the spatially-coded image's flag layout
    (cache bit + meta bit); subimages carry only the cache bit."""
    from vearch_spark.functions import media as M

    wtr.put(0, 1)  # no color cache
    if main:
        wtr.put(0, 1)  # no meta prefix codes
    gf, rf, bf, af = {}, {}, {}, {}
    for v in argb_list:
        for d, k in ((gf, (v >> 8) & 0xFF), (rf, (v >> 16) & 0xFF),
                     (bf, v & 0xFF), (af, v >> 24)):
            d[k] = d.get(k, 0) + 1
    g = M._vp8l_emit_code(wtr, gf, 280)
    r = M._vp8l_emit_code(wtr, rf, 256)
    b = M._vp8l_emit_code(wtr, bf, 256)
    a = M._vp8l_emit_code(wtr, af, 256)
    M._vp8l_emit_code(wtr, {}, 40)
    for v in argb_list:
        wtr.put_code(*g[(v >> 8) & 0xFF])
        wtr.put_code(*r[(v >> 16) & 0xFF])
        wtr.put_code(*b[v & 0xFF])
        wtr.put_code(*a[v >> 24])


def test_webp_roundtrip_exact_all_modes():
    """Encoder↔decoder bit-exact round-trips across shapes, cache
    sizes, transforms, and LZ77 on/off; dispatch through decode_image
    on the RIFF/WEBP magic."""
    from vearch_spark.functions import media as M

    rng = np.random.default_rng(11)
    for shape in [(1, 1, 3), (7, 5, 3), (9, 13, 4), (6, 6), (2, 300, 3)]:
        px = rng.integers(0, 256, shape, dtype=np.uint8)
        want = px if px.ndim == 3 else np.repeat(px[:, :, None], 3, axis=2)
        for cb in (0, 6):
            for sg in (True, False):
                blob = M.webp_bytes(px, cache_bits=cb, subtract_green=sg)
                assert np.array_equal(M.decode_webp(blob), want), (shape, cb, sg)
    # structured image: runs + vertical copies + cache hits compress
    x, y = np.meshgrid(np.arange(64), np.arange(48))
    img = np.stack(
        [(x // 8 * 31) % 256, (y // 8 * 53) % 256, ((x + y) // 16 * 17) % 256], -1
    ).astype(np.uint8)
    blob = M.webp_bytes(img)
    assert len(blob) < img.size // 4  # real compression, not store
    assert np.array_equal(M.decode_webp(blob), img)
    assert M.webp_info(blob) == {
        "width": 64, "height": 48, "alpha": 0, "format": "VP8L"
    }
    via = M.decode_image(blob)
    assert via.shape == img.shape and np.allclose(via, img / 255.0)


def test_webp_predictor_transform_all_modes():
    """Foreign-stream path our encoder never emits: the predictor
    transform, every mode 0..13, one block covering a 4x4 image —
    checked against an independent per-pixel reference implementation
    of the spec's prediction rules (edge rules included); reserved
    mode 14 raises."""
    from vearch_spark.functions import media as M

    def avg2(a, b):
        return tuple((x + y) >> 1 for x, y in zip(a, b))

    def ref_predict(mode, L, T, TL, TR):
        if mode == 0:
            return (255, 0, 0, 0)
        if mode == 1:
            return L
        if mode == 2:
            return T
        if mode == 3:
            return TR
        if mode == 4:
            return TL
        if mode == 5:
            return avg2(avg2(L, TR), T)
        if mode == 6:
            return avg2(L, TL)
        if mode == 7:
            return avg2(L, T)
        if mode == 8:
            return avg2(TL, T)
        if mode == 9:
            return avg2(T, TR)
        if mode == 10:
            return avg2(avg2(L, TL), avg2(T, TR))
        if mode == 11:
            s = sum(abs(l - tl) - abs(t - tl) for t, l, tl in zip(T, L, TL))
            return T if s <= 0 else L
        if mode == 12:
            return tuple(
                min(255, max(0, l + t - tl)) for l, t, tl in zip(L, T, TL)
            )
        ave = avg2(L, T)
        out = []
        for a_, tl in zip(ave, TL):
            d = a_ - tl
            q = d // 2 if d >= 0 else -((-d) // 2)
            out.append(min(255, max(0, a_ + q)))
        return tuple(out)

    w = h = 4
    rng = np.random.default_rng(3)
    for mode in range(14):
        resid = rng.integers(0, 256, (h * w, 4), dtype=np.int64)  # ARGB
        argb = [
            int((p[0] << 24) | (p[1] << 16) | (p[2] << 8) | p[3]) for p in resid
        ]

        def body(wtr, mode=mode, argb=argb):
            wtr.put(1, 1)  # transform present
            wtr.put(0, 2)  # predictor
            wtr.put(2, 3)  # size_bits = 4: one 16x16 block
            _vp8l_emit_literal_image(wtr, [0xFF000000 | (mode << 8)])
            wtr.put(0, 1)  # end transforms
            _vp8l_emit_literal_image(wtr, argb, main=True)

        got = M.decode_webp(_vp8l_wrap(w, h, body, alpha=1))
        # independent forward reference
        exp = np.zeros((h, w, 4), dtype=np.int64)  # ARGB tuples
        for pos in range(h * w):
            yy, xx = divmod(pos, w)
            if pos == 0:
                pred = (255, 0, 0, 0)
            elif yy == 0:
                pred = tuple(exp[0, xx - 1])
            elif xx == 0:
                pred = tuple(exp[yy - 1, 0])
            else:
                L = tuple(exp[yy, xx - 1])
                T = tuple(exp[yy - 1, xx])
                TL = tuple(exp[yy - 1, xx - 1])
                TR = tuple(exp[yy, 0]) if xx == w - 1 else tuple(exp[yy - 1, xx + 1])
                pred = ref_predict(mode, L, T, TL, TR)
            exp[yy, xx] = [(r + p) & 0xFF for r, p in zip(resid[pos], pred)]
        # decode_webp returns RGBA; exp is ARGB
        want = exp[..., [1, 2, 3, 0]].astype(np.uint8)
        assert np.array_equal(got, want), f"mode {mode}"
    # reserved mode 14 raises typed
    def bad(wtr):
        wtr.put(1, 1)
        wtr.put(0, 2)
        wtr.put(2, 3)
        _vp8l_emit_literal_image(wtr, [0xFF000000 | (14 << 8)])
        wtr.put(0, 1)
        _vp8l_emit_literal_image(wtr, [0xFF000000] * 16, main=True)

    with pytest.raises(ValueError, match="predictor mode"):
        M.decode_webp(_vp8l_wrap(4, 4, bad))


def test_webp_cross_color_transform():
    """Cross-color inverse against an independent reference of the
    spec's signed-multiplier arithmetic ((int8)m * (int8)c >> 5)."""
    from vearch_spark.functions import media as M

    w, h = 3, 2
    rng = np.random.default_rng(5)
    resid = rng.integers(0, 256, (h * w, 4), dtype=np.int64)
    argb = [int((p[0] << 24) | (p[1] << 16) | (p[2] << 8) | p[3]) for p in resid]
    g2r, g2b, r2b = 200, 37, 140  # exercise negative int8 values

    def body(wtr):
        wtr.put(1, 1)
        wtr.put(1, 2)  # cross-color
        wtr.put(2, 3)  # one block
        _vp8l_emit_literal_image(
            wtr, [0xFF000000 | (r2b << 16) | (g2b << 8) | g2r]
        )
        wtr.put(0, 1)
        _vp8l_emit_literal_image(wtr, argb, main=True)

    got = M.decode_webp(_vp8l_wrap(w, h, body))

    def s8(v):
        return v - 256 if v >= 128 else v

    exp = []
    for a_, r, g, b in resid:
        green = s8(g)
        nr = (r + ((s8(g2r) * green) >> 5)) & 0xFF
        nb = (b + ((s8(g2b) * green) >> 5) + ((s8(r2b) * s8(nr)) >> 5)) & 0xFF
        exp.append((nr, g, nb))
    want = np.array(exp, dtype=np.uint8).reshape(h, w, 3)
    assert np.array_equal(got, want)


def test_webp_palette_transform_bundled_and_plain():
    """Color-indexing decode: delta-coded palette, sub-byte index
    bundling (2-bit indices at 4 colors), width reduction, and
    out-of-palette indices resolving to transparent black."""
    from vearch_spark.functions import media as M

    # 4 colors -> pbits=2 (4 indices per packed green byte); w=5 ->
    # packed width 2
    pal = [(255, 10, 20, 30), (255, 200, 0, 0), (255, 0, 200, 0), (255, 0, 0, 200)]
    idx_rows = [[0, 1, 2, 3, 1], [3, 3, 0, 2, 2]]

    def body(wtr):
        wtr.put(1, 1)
        wtr.put(3, 2)  # color indexing
        wtr.put(len(pal) - 1, 8)
        deltas = []
        prev = (0, 0, 0, 0)
        for p in pal:
            deltas.append(
                int.from_bytes(
                    bytes((p[i] - prev[i]) & 0xFF for i in range(4)), "big"
                )
            )
            prev = p
        _vp8l_emit_literal_image(wtr, deltas)
        wtr.put(0, 1)  # end transforms
        packed = []
        for row in idx_rows:
            for start in range(0, 8, 4):
                v = 0
                for j, ix in enumerate(row[start : start + 4]):
                    v |= ix << (2 * j)
                packed.append(0xFF000000 | (v << 8))
        _vp8l_emit_literal_image(wtr, packed, main=True)

    got = M.decode_webp(_vp8l_wrap(5, 2, body))
    want = np.array(
        [[pal[i][1:] for i in row] for row in idx_rows], dtype=np.uint8
    )
    assert np.array_equal(got, want)


def test_webp_meta_prefix_groups():
    """Meta prefix codes: two code groups selected per 4-px block by
    the entropy image — each group's distinct literal codes must land
    on the right pixels."""
    from vearch_spark.functions import media as M

    w, h = 8, 1  # two 4-px meta blocks

    def body(wtr):
        wtr.put(0, 1)  # no transforms... (first transform bit)
        wtr.put(0, 1)  # no color cache
        wtr.put(1, 1)  # meta prefix present
        wtr.put(0, 3)  # mbits = 2 -> block width 4
        # meta image 2x1: group indices 0, 1 in (red<<8)|green
        _vp8l_emit_literal_image(wtr, [0xFF000000, 0xFF000100])
        # group 0: literal green=11 red=22 blue=33; group 1: 44/55/66
        for g_, r_, b_ in ((11, 22, 33), (44, 55, 66)):
            M._vp8l_emit_code(wtr, {g_: 1}, 280)
            M._vp8l_emit_code(wtr, {r_: 1}, 256)
            M._vp8l_emit_code(wtr, {b_: 1}, 256)
            M._vp8l_emit_code(wtr, {255: 1}, 256)
            M._vp8l_emit_code(wtr, {}, 40)
        # pixel data: every tree is single-symbol, so the body needs
        # zero bits per pixel

    got = M.decode_webp(_vp8l_wrap(w, h, body))
    want = np.zeros((1, 8, 3), dtype=np.uint8)
    want[0, :4] = (22, 11, 33)
    want[0, 4:] = (55, 44, 66)
    assert np.array_equal(got, want)


def test_webp_hostile_inputs_typed_errors():
    """Hostile WebP rejects typed: lossy VP8, missing chunk, bad
    signature, truncation, duplicate transform, cache ref without a
    cache, and backref before stream start."""
    import struct

    from vearch_spark.functions import media as M

    with pytest.raises(ValueError, match="lossy"):
        M.decode_webp(
            b"RIFF" + struct.pack("<I", 16) + b"WEBP"
            + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4
        )
    with pytest.raises(ValueError, match="missing a VP8L"):
        M.decode_webp(b"RIFF" + struct.pack("<I", 4) + b"WEBP")
    # extended (VP8X) container wrapping a VP8L chunk decodes fine
    plain = M.webp_bytes(np.full((3, 3, 3), 9, dtype=np.uint8))
    vp8x = b"VP8X" + struct.pack("<I", 10) + b"\x00" * 10
    ext = b"RIFF" + struct.pack(
        "<I", 4 + len(vp8x) + len(plain) - 12
    ) + b"WEBP" + vp8x + plain[12:]
    assert np.array_equal(
        M.decode_webp(ext), np.full((3, 3, 3), 9, dtype=np.uint8)
    )
    with pytest.raises(ValueError, match="animated"):
        M.decode_webp(
            b"RIFF" + struct.pack("<I", 18) + b"WEBP"
            + b"ANIM" + struct.pack("<I", 6) + b"\x00" * 6
        )
    with pytest.raises(ValueError, match="RIFF/WEBP"):
        M.decode_webp(b"not a webp at all")
    good = M.webp_bytes(np.zeros((4, 4, 3), dtype=np.uint8))
    with pytest.raises(ValueError):
        M.decode_webp(good[:-6])  # truncated entropy data
    bad_sig = bytearray(good)
    bad_sig[20] ^= 0xFF  # VP8L signature byte
    with pytest.raises(ValueError):
        M.decode_webp(bytes(bad_sig))

    def dup(wtr):
        wtr.put(1, 1)
        wtr.put(2, 2)  # subtract green
        wtr.put(1, 1)
        wtr.put(2, 2)  # duplicate
        wtr.put(0, 1)
        _vp8l_emit_literal_image(wtr, [0xFF000000], main=True)

    with pytest.raises(ValueError, match="duplicate"):
        M.decode_webp(_vp8l_wrap(1, 1, dup))

    def backref_past_end(wtr):
        # literal, then a copy of length 5 in a 3-px image
        wtr.put(0, 1)  # no transform
        wtr.put(0, 1)  # no cache
        wtr.put(0, 1)  # no meta
        g = M._vp8l_emit_code(wtr, {0: 1, 256 + 4: 1}, 280)  # len code 5
        M._vp8l_emit_code(wtr, {0: 1}, 256)
        M._vp8l_emit_code(wtr, {0: 1}, 256)
        M._vp8l_emit_code(wtr, {255: 1}, 256)
        d = M._vp8l_emit_code(wtr, {1: 1}, 40)  # dist code -> dist 1
        wtr.put_code(*g[0])      # one literal pixel
        wtr.put_code(*g[256 + 4])  # length prefix 4 -> value 5
        wtr.put(0, 1)            # 1 extra bit for prefix code 4
        wtr.put_code(*d[1])      # distance value 2 -> dcode (1,0)=1

    with pytest.raises(ValueError, match="past image end"):
        M.decode_webp(_vp8l_wrap(3, 1, backref_past_end))

    def backref_start(wtr):
        wtr.put(0, 1)
        wtr.put(0, 1)
        wtr.put(0, 1)
        # first symbol is a copy (length code 0 => len 1, dist code 1)
        g = M._vp8l_emit_code(wtr, {256: 1}, 280)
        M._vp8l_emit_code(wtr, {0: 1}, 256)
        M._vp8l_emit_code(wtr, {0: 1}, 256)
        M._vp8l_emit_code(wtr, {0: 1}, 256)
        d = M._vp8l_emit_code(wtr, {0: 1}, 40)
        wtr.put_code(*g[256])
        wtr.put_code(*d[0])

    with pytest.raises(ValueError, match="before stream start"):
        M.decode_webp(_vp8l_wrap(2, 1, backref_start))


# ---------------------------------------------------------------- MP4


def test_mp4_mjpeg_roundtrip_and_chunk_map():
    """ISO BMFF demux + motion-JPEG decode: every frames_per_chunk
    layout (single chunk, per-frame chunks, uneven tail chunk) must
    walk the stsc/stco chunk map to identical frames; mp4_info reports
    codec/dims/samples/duration from the sample tables."""
    from vearch_spark.functions import media as M

    x, y = np.meshgrid(np.arange(24), np.arange(16))
    frames = np.stack(
        [
            np.stack([(10 * f + 2 * x + 3 * y + 5 * c) % 200 for c in range(3)], -1)
            for f in range(7)
        ]
    ).astype(np.uint8)
    ref = None
    for k in (None, 1, 2, 3, 7):
        blob = M.mp4_bytes(frames, fps=5, quality=90, frames_per_chunk=k)
        out = M.decode_mp4(blob)
        assert out.shape == frames.shape
        assert int(np.abs(out.astype(int) - frames.astype(int)).max()) <= 2
        if ref is None:
            ref = out
            info = M.mp4_info(blob)
            assert info == {
                "codec": "jpeg", "width": 24, "height": 16,
                "n_samples": 7, "duration_s": 1.4,
            }
        else:
            assert np.array_equal(out, ref), k  # layout-independent


def test_mp4_hostile_inputs_typed_errors():
    """Hostile MP4 rejects typed: H.264-class codec, missing
    ftyp/moov, truncated boxes, sample data past file end, and a
    chunk map covering fewer samples than stsz declares."""
    import struct

    from vearch_spark.functions import media as M

    frames = np.zeros((2, 8, 8, 3), dtype=np.uint8)
    good = M.mp4_bytes(frames)

    with pytest.raises(ValueError, match="ftyp"):
        M.decode_mp4(b"\x00" * 32)
    with pytest.raises(ValueError, match="moov"):
        M.decode_mp4(good[: good.find(b"moov") - 4])
    # codec swap: 'jpeg' sample entry relabeled avc1
    avc = good.replace(b"jpeg", b"avc1")
    with pytest.raises(ValueError, match="avc1.*external decoder|not supported"):
        M.decode_mp4(avc)
    # truncate mdat payload: sample extends past end — cut moov too,
    # so rebuild: point stco past EOF instead by inflating the offset
    i = good.find(b"stco")
    bad = bytearray(good)
    bad[i + 12 : i + 16] = struct.pack(">I", len(good) - 3)
    with pytest.raises(ValueError, match="past file end"):
        M.decode_mp4(bytes(bad))
    # stsz count inflated past what the chunk map covers
    i = good.find(b"stsz")
    bad = bytearray(good)
    bad[i + 12 : i + 16] = struct.pack(">I", 50)
    with pytest.raises(ValueError):
        M.decode_mp4(bytes(bad))


def test_external_codec_registry_contract():
    """r9: the formal plug-in contract for out-of-from-scratch-scope
    codecs (register_external_codec). A mock 'avc1' decoder receives
    the parsed sample list + sample-entry dims from decode_mp4 (and
    decode_video above it); a mock 'vp8' receives the lossy chunk from
    decode_webp; a mock 'mp3' feeds decode_audio. media_info stays
    header-only (reports the foreign codec tag with no decoder
    registered), unregistered codecs keep raising typed, and an
    external decoder lying about output shape raises typed — the same
    geometry gate as the in-repo paths."""
    import struct

    from vearch_spark.functions import media as M

    frames = np.zeros((2, 8, 8, 3), dtype=np.uint8)
    avc = M.mp4_bytes(frames).replace(b"jpeg", b"avc1")
    payload = b"\x01\x02\x03\x04"
    vp8 = (
        b"RIFF" + struct.pack("<I", 4 + 12) + b"WEBP"
        + b"VP8 " + struct.pack("<I", len(payload)) + payload
    )
    mp3 = b"ID3\x04\x00\x00\x00\x00\x00\x00" + b"\xff\xfb\x90\x00" * 8

    # header-only probe works with NO decoder registered
    assert M.media_info(avc)["codec"] == "avc1"
    # unregistered → typed rejects
    with pytest.raises(ValueError, match="avc1.*external decoder"):
        M.decode_mp4(avc)
    with pytest.raises(ValueError, match="lossy \\(VP8\\)"):
        M.decode_webp(vp8)
    with pytest.raises(ValueError, match="MP3 requires an external"):
        M.decode_audio(mp3)

    seen = {}

    def mock_avc1(samples, w, h):
        seen["avc1"] = (len(samples), w, h, [len(s) for s in samples])
        return np.full((len(samples), h, w, 3), 7, dtype=np.uint8)

    def mock_vp8(chunk):
        seen["vp8"] = bytes(chunk)
        return np.full((6, 5, 3), 9, dtype=np.uint8)

    def mock_mp3(stream):
        seen["mp3"] = len(stream)
        return np.array([[0.5, 0.5], [-0.5, 0.25]])

    try:
        M.register_external_codec("avc1", mock_avc1)
        M.register_external_codec("vp8", mock_vp8)
        M.register_external_codec("mp3", mock_mp3)

        out = M.decode_mp4(avc)
        assert out.shape == (2, 8, 8, 3) and out[0, 0, 0, 0] == 7
        assert seen["avc1"][0] == 2 and seen["avc1"][1:3] == (8, 8)
        # the samples handed over are the real mdat payloads
        assert all(n > 0 for n in seen["avc1"][3])
        # the kind-level dispatcher above it routes through too
        vid = M.decode_video(avc)
        assert vid.shape == (2, 8, 8, 3) and abs(vid[0, 0, 0, 0] - 7 / 255) < 1e-9

        px = M.decode_webp(vp8)
        assert px.shape == (6, 5, 3) and seen["vp8"] == payload

        pcm = M.decode_audio(mp3)
        assert pcm.tolist() == [0.5, -0.125] and seen["mp3"] == len(mp3)

        # geometry lies from an external decoder raise typed
        M.register_external_codec(
            "avc1", lambda s, w, h: np.zeros((1, 2, 2, 3), dtype=np.uint8)
        )
        with pytest.raises(ValueError, match="external 'avc1'"):
            M.decode_mp4(avc)
        M.register_external_codec(
            "vp8", lambda c: np.zeros((4, 4), dtype=np.uint8)
        )
        with pytest.raises(ValueError, match="external 'vp8'"):
            M.decode_webp(vp8)
    finally:
        M.unregister_external_codec("avc1")
        M.unregister_external_codec("vp8")
        M.unregister_external_codec("mp3")
    # back to typed rejects after unregistration
    with pytest.raises(ValueError, match="external decoder"):
        M.decode_mp4(avc)


def test_mp3_header_probe():
    """r9 MP3 header-only support: mp3_silence_bytes synthesizes
    structurally valid MPEG-1 Layer III framing (optionally inside an
    ID3v2 envelope) and mp3_info recovers every parameter from the
    frame walk; media_info dispatches on both the ID3 magic and a bare
    frame sync; corrupt framing rejects typed; audio DECODE still
    routes to the external-codec registry."""
    from vearch_spark.functions import media as M

    for sr in (44100, 48000, 32000):
        for nf in (1, 4):
            for ch in (1, 2):
                for id3 in (None, b"TAG" * 11):
                    blob = M.mp3_silence_bytes(nf, sr, 128, ch, id3=id3)
                    info = M.mp3_info(blob)
                    assert (
                        info["n_frames"], info["sample_rate"],
                        info["channels"], info["bitrate_kbps"],
                        info["mpeg_version"], info["layer"],
                    ) == (nf, sr, ch, 128, 1, 3)
                    assert info["duration_ms"] == nf * 1152 * 1000 // sr
                    mi = M.media_info(blob)
                    assert (mi["container"], mi["kind"]) == ("mp3", "audio")
    # a 320kbps stereo stream exercises the other table edge
    info = M.mp3_info(M.mp3_silence_bytes(2, 44100, 320, 2))
    assert info["bitrate_kbps"] == 320 and info["channels"] == 2

    with pytest.raises(ValueError, match="syncsafe|truncated"):
        M.mp3_info(b"ID3\x04\x00\x00\x7f\x7f\x7f\xff" + b"\x00" * 8)
    with pytest.raises(ValueError, match="reserved|bitrate"):
        M.mp3_info(b"\xff\xe0\x00\x00" + b"\x00" * 16)  # reserved ver
    with pytest.raises(ValueError, match="past stream end"):
        M.mp3_info(M.mp3_silence_bytes(2)[:-10])
    with pytest.raises(ValueError, match="no frames"):
        M.mp3_info(b"ID3\x04\x00\x00\x00\x00\x00\x00")
    with pytest.raises(ValueError, match="external decoder"):
        M.decode_audio(M.mp3_silence_bytes(2))
    # encoder validation
    with pytest.raises(ValueError, match="sample_rate"):
        M.mp3_silence_bytes(1, 22050)
    with pytest.raises(ValueError, match="bitrate"):
        M.mp3_silence_bytes(1, 44100, 100)


def test_media_info_unified_dispatch():
    """media_info dispatches every supported container by magic and
    annotates kind + container; unknown magic raises typed."""
    from vearch_spark.functions import media as M

    img = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3)
    frames = np.stack([img, img])
    cases = [
        (M.png_bytes(img), "png", "image"),
        (M.jpeg_bytes(img), "jpeg", "image"),
        (
            M.gif_bytes(
                np.zeros((4, 5), dtype=np.uint8),
                np.array([[0, 0, 0], [1, 1, 1]], dtype=np.uint8),
            ),
            "gif",
            "image",
        ),
        (M.bmp_bytes(img), "bmp", "image"),
        (M.pgm_bytes(img), "netpbm", "image"),
        (M.webp_bytes(img), "webp", "image"),
        (M.tiff_bytes(img), "tiff", "image"),
        (M.avi_bytes(frames), "avi", "video"),
        (M.mp4_bytes(frames), "mp4", "video"),
    ]
    for blob, tag, kind in cases:
        info = M.media_info(blob)
        assert info["container"] == tag and info["kind"] == kind
        assert (info["width"], info["height"]) == (5, 4), tag
    winfo = M.media_info(M.wav_bytes([0, 1, -1] * 50, 8000))
    assert winfo["container"] == "wav" and winfo["kind"] == "audio"
    assert winfo["n_frames"] == 150
    finfo = M.media_info(M.flac_bytes(np.zeros((150, 1), dtype=np.int64)))
    assert finfo["container"] == "flac" and finfo["kind"] == "audio"
    assert finfo["total_samples"] == 150
    with pytest.raises(ValueError, match="unrecognized media"):
        M.media_info(b"garbage bytes here")


def test_media_encoder_param_validation():
    """r8 advice regressions: mp4_bytes validates fps (no raw
    ZeroDivisionError, no zero-duration stts); flac_bytes validates
    block_size against the spec's [16, 65535] envelope; decode_flac
    rejects the spec's 'unknown length' total_samples=0 typed;
    media_info's BMP arm agrees with decode_bmp on core-header BMPs."""
    import struct

    from vearch_spark.functions import media as M

    frames = np.zeros((2, 8, 8, 3), dtype=np.uint8)
    for fps in (0, -1, 1001):
        with pytest.raises(ValueError, match="fps"):
            M.mp4_bytes(frames, fps=fps)
    assert M.mp4_info(M.mp4_bytes(frames, fps=1000))["duration_s"] > 0

    x = np.zeros((64, 1), dtype=np.int64)
    for bsz in (0, 15, 65536):
        with pytest.raises(ValueError, match="block_size"):
            M.flac_bytes(x, block_size=bsz)

    # STREAMINFO total_samples=0 = "unknown length" (RFC 9639) — typed
    blob = bytearray(M.flac_bytes(x))
    w = M._MSBBitWriter()
    w.put(16, 16); w.put(16, 16); w.put(0, 24); w.put(0, 24)
    w.put(8000, 20); w.put(0, 3); w.put(15, 5); w.put(0, 36)
    blob[8 : 8 + 18] = w.flush()
    with pytest.raises(ValueError, match="unknown total_samples"):
        M.decode_flac(bytes(blob))

    # BITMAPCOREHEADER BMP: 12-byte DIB header, 16-bit dims — both the
    # probe and the decoder must reject typed (probe used to emit garbage)
    core = (
        b"BM" + struct.pack("<IHHI", 26 + 6, 0, 0, 26)
        + struct.pack("<IHHHH", 12, 5, 4, 1, 24) + b"\x00" * 8
    )
    with pytest.raises(ValueError, match="header size"):
        M.media_info(core)
    with pytest.raises(ValueError, match="header size"):
        M.decode_bmp(core + b"\x00" * 40)


def test_webp_property_roundtrip():
    """Hypothesis sweep: any (shape, channels, cache size, transforms,
    LZ77) combination in the supported envelope round-trips
    bit-exactly — the format is lossless, so exact equality is the
    invariant."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vearch_spark.functions.media import decode_webp, webp_bytes

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 14),
        w=st.integers(1, 14),
        ch=st.sampled_from([2, 3, 4]),  # 2 = grayscale (H, W)
        cache=st.sampled_from([0, 1, 5, 11]),
        sg=st.booleans(),
        lz=st.booleans(),
        # low-cardinality palettes maximize LZ77/cache interplay
        vals=st.integers(2, 256),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(h, w, ch, cache, sg, lz, vals, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w) if ch == 2 else (h, w, ch)
        px = rng.integers(0, vals, shape, dtype=np.uint8)
        blob = webp_bytes(px, cache_bits=cache, subtract_green=sg, use_lz77=lz)
        want = px if px.ndim == 3 else np.repeat(px[:, :, None], 3, axis=2)
        assert np.array_equal(decode_webp(blob), want)

    check()


# --------------------------------------------------------------- FLAC


def _flac_stream(nch, bps, total, subframes_fn, bsize=None):
    """Hand-assemble a one-frame FLAC stream: STREAMINFO (zero MD5 =
    no MD5 gate) + one frame whose subframe bits subframes_fn writes."""
    import struct

    from vearch_spark.functions import media as M

    bsize = bsize or total
    si = M._MSBBitWriter()
    si.put(bsize, 16)
    si.put(bsize, 16)
    si.put(0, 24)
    si.put(0, 24)
    si.put(8000, 20)
    si.put(nch - 1, 3)
    si.put(bps - 1, 5)
    si.put(total, 36)
    body = si.flush() + b"\x00" * 16
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(body).to_bytes(3, "big") + body
    w = M._MSBBitWriter()
    w.put(0x3FFE, 14)
    w.put(0, 2)
    w.put(7, 4)  # 16-bit block size at header end
    w.put(0, 4)
    w.put(subframes_fn.ch_code if hasattr(subframes_fn, "ch_code") else nch - 1, 4)
    w.put({8: 1, 16: 4, 24: 6}[bps], 3)
    w.put(0, 1)
    w.put(0, 8)  # frame number 0 (utf8 single byte)
    w.put(bsize - 1, 16)
    hdr = w.flush()
    frame = bytearray(hdr)
    frame.append(M._crc8_flac(hdr))
    w = M._MSBBitWriter()
    subframes_fn(w)
    frame += w.flush()
    frame += struct.pack(">H", M._crc16_flac(bytes(frame)))
    return bytes(out + frame)


def test_flac_roundtrip_exact():
    """Encoder↔decoder exact integer round-trips across channel
    counts, depths, block splits; STREAMINFO MD5 verifies end-to-end;
    real compression on smooth signals; dispatch via decode_audio and
    media_info."""
    from vearch_spark.functions import media as M

    rng = np.random.default_rng(5)
    for shape, bps in [((1000, 2), 16), ((333, 1), 16), ((100, 3), 8),
                       ((777, 1), 24), ((4097, 2), 16)]:
        hi = 1 << (bps - 1)
        x = rng.integers(-hi, hi, shape, dtype=np.int64)
        x = np.cumsum(x // (1000 if bps > 8 else 8), axis=0).clip(-hi, hi - 1)
        blob = M.flac_bytes(x, 8000, bps, block_size=512)
        assert np.array_equal(M.decode_flac(blob), x), (shape, bps)
    smooth = np.cumsum(
        rng.integers(-50, 50, (8000, 2), dtype=np.int64), axis=0
    ).clip(-32768, 32767)
    blob = M.flac_bytes(smooth)
    assert len(blob) < smooth.size * 2 * 0.7  # genuinely compresses
    info = M.media_info(blob)
    assert info["container"] == "flac" and info["kind"] == "audio"
    assert info["channels"] == 2 and info["total_samples"] == 8000
    mono = M.decode_audio(blob)
    assert mono.shape == (8000,) and abs(mono).max() < 1.0


def test_flac_lpc_and_residual_paths():
    """Decoder-only paths our encoder never emits, hand-crafted and
    checked against an independent in-test reference: LPC subframes
    (quantized coefficients + shift), Rice escape partitions, 5-bit
    rice method, partition order > 0, and wasted bits."""
    from vearch_spark.functions import media as M

    n, bps = 16, 16
    rng = np.random.default_rng(9)
    resid = [int(v) for v in rng.integers(-20, 20, n - 2)]
    warm = [100, 120]
    coefs = [3, -1]
    shift = 1

    def subframes(w):
        w.put(0, 1)
        w.put(32 + 1, 6)  # LPC order 2 (type 0b100000 | order-1)
        w.put(0, 1)  # no wasted bits
        for v in warm:
            w.put(v & 0xFFFF, 16)
        w.put(3, 4)  # precision-1 = 3 -> 4-bit coefs
        w.put(shift, 5)
        for c in coefs:
            w.put(c & 0xF, 4)
        # residual: method 1 (5-bit params), partition order 1 —
        # first partition escapes to 7-bit raw, second rice param 3
        w.put(1, 2)
        w.put(1, 4)
        half = n // 2
        w.put(31, 5)  # escape
        w.put(7, 5)  # raw width
        for r in resid[: half - 2]:
            w.put(r & 0x7F, 7)
        w.put(3, 5)  # rice param 3
        for r in resid[half - 2 :]:
            z = (abs(r) << 1) - (1 if r < 0 else 0)
            for _ in range(z >> 3):
                w.put(0, 1)
            w.put(1, 1)
            w.put(z & 7, 3)

    blob = _flac_stream(1, bps, n, subframes)
    got = M.decode_flac(blob)[:, 0]
    exp = list(warm)
    for r in resid:
        acc = coefs[0] * exp[-1] + coefs[1] * exp[-2]
        exp.append(r + (acc >> shift))
    assert got.tolist() == exp

    # wasted bits: CONSTANT with 2 wasted -> every sample << 2
    def wasted(w):
        w.put(0, 1)
        w.put(0, 6)  # CONSTANT
        w.put(1, 1)  # wasted-bits flag
        w.put(1, 2)  # unary 1 -> k=2 wasted (0 then 1... unary count 1)
        w.put(3, 14)  # eff bps = 16-2 = 14, value 3

    blob = _flac_stream(1, bps, 4, wasted)
    assert M.decode_flac(blob)[:, 0].tolist() == [12, 12, 12, 12]


def test_flac_stereo_decorrelation_modes():
    """left/side, right/side, and mid/side frames reconstruct the
    (left, right) pair per the spec arithmetic — side channels carry
    bps+1 bits."""
    from vearch_spark.functions import media as M

    n, bps = 4, 16
    left_v, right_v = 1205, -307
    side_v = left_v - right_v
    mid_v = (left_v + right_v) >> 1

    def constant(w, v, bits):
        w.put(0, 1)
        w.put(0, 6)
        w.put(0, 1)
        w.put(v & ((1 << bits) - 1), bits)

    for ch_code, first, fbits, second, sbits in [
        (8, left_v, 16, side_v, 17),   # left/side
        (9, side_v, 17, right_v, 16),  # right/side
        (10, mid_v, 16, side_v, 17),   # mid/side
    ]:
        def subframes(w, a=first, ab=fbits, b=second, bb=sbits):
            constant(w, a, ab)
            constant(w, b, bb)

        subframes.ch_code = ch_code
        blob = _flac_stream(2, bps, n, subframes)
        got = M.decode_flac(blob)
        assert got[:, 0].tolist() == [left_v] * n, ch_code
        assert got[:, 1].tolist() == [right_v] * n, ch_code


def test_flac_hostile_inputs_typed_errors():
    """Hostile FLAC rejects typed: bad magic, header CRC-8 corruption,
    frame CRC-16 corruption, MD5 mismatch, truncation, and short
    streams."""
    from vearch_spark.functions import media as M

    x = np.arange(-400, 400, dtype=np.int64).reshape(-1, 2)
    good = M.flac_bytes(x)
    with pytest.raises(ValueError, match="fLaC magic"):
        M.decode_flac(b"not flac")
    with pytest.raises(ValueError):
        M.decode_flac(good[:-10])  # truncated final frame
    # corrupt one byte inside the frame payload: CRC-16 must trip
    bad = bytearray(good)
    bad[-10] ^= 0xFF
    with pytest.raises(ValueError, match="CRC-16|truncated|corrupt|FLAC"):
        M.decode_flac(bytes(bad))
    # corrupt the STREAMINFO md5: decoded-PCM integrity gate must trip
    bad = bytearray(good)
    bad[26] ^= 0xFF  # inside the 16-byte md5 field (offset 8+18)
    with pytest.raises(ValueError, match="MD5 mismatch"):
        M.decode_flac(bytes(bad))
    # corrupt the frame header: CRC-8 must trip (header starts after
    # the 4 + 4 + 34 byte STREAMINFO block)
    bad = bytearray(good)
    bad[44] ^= 0x04  # a header bit past sync
    with pytest.raises(ValueError, match="CRC-8|sync|FLAC"):
        M.decode_flac(bytes(bad))


# --------------------------------------------------------------- TIFF


def test_tiff_roundtrip_all_compressions():
    """Baseline strip TIFF: gray/RGB/RGBA, both byte orders, all
    three compressions, multi-strip, exact round-trips; the TIFF-LZW
    early-change width pairing is crossed by an image large enough to
    reach every code width and the 12-bit table clear; the horizontal
    predictor genuinely compresses smooth gradients and inverts
    exactly."""
    from vearch_spark.functions import media as M

    rng = np.random.default_rng(3)
    for shape in [(5, 7), (16, 24, 3), (9, 13, 4), (1, 1, 3), (100, 3)]:
        px = rng.integers(0, 256, shape, dtype=np.uint8)
        for comp in ("none", "lzw", "packbits"):
            for be in (False, True):
                blob = M.tiff_bytes(
                    px, compression=comp, rows_per_strip=5, big_endian=be
                )
                assert np.array_equal(M.decode_tiff(blob), px), (shape, comp, be)
    x, y = np.meshgrid(np.arange(64), np.arange(48))
    img = np.stack(
        [(x + 2 * y) % 256, (2 * x + y) % 256, (x * y // 16) % 256], -1
    ).astype(np.uint8)
    plain = M.tiff_bytes(img, compression="lzw")
    pred = M.tiff_bytes(img, compression="lzw", predictor=True)
    assert len(pred) < len(plain) // 4  # differencing pays on gradients
    assert np.array_equal(M.decode_tiff(pred), img)
    big = np.tile(img, (8, 8, 1))  # crosses 10/11/12-bit LZW + CLEAR
    assert np.array_equal(
        M.decode_tiff(M.tiff_bytes(big, compression="lzw", rows_per_strip=400)),
        big,
    )
    info = M.media_info(M.tiff_bytes(img, big_endian=True))
    assert info == {
        "width": 64, "height": 48, "channels": 3, "compression": 5,
        "byte_order": "big", "kind": "image", "container": "tiff",
    }
    via = M.decode_image(M.tiff_bytes(img))
    assert via.shape == img.shape and np.allclose(via, img / 255.0)


def test_tiff_hostile_inputs_typed_errors():
    """Hostile TIFF rejects typed: bad magic, truncated IFD, missing
    required tags, unsupported compression/planar/tiled/palette,
    LZW payload disagreeing with the strip size, strip past EOF."""
    import struct

    from vearch_spark.functions import media as M

    img = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
    good = M.tiff_bytes(img, compression="lzw")

    with pytest.raises(ValueError, match="byte-order"):
        M.decode_tiff(b"XX\x2a\x00" + b"\x00" * 16)
    with pytest.raises(ValueError, match="magic"):
        M.decode_tiff(b"II\x2b\x00" + b"\x00" * 16)
    with pytest.raises(ValueError):
        M.decode_tiff(good[:20])  # truncated IFD
    # compression swapped to an unsupported code (JPEG-in-TIFF = 7)
    bad = bytearray(good)
    i = good.find(struct.pack("<HHI", 259, 3, 1))
    bad[i + 8] = 7
    with pytest.raises(ValueError, match="unsupported TIFF compression"):
        M.decode_tiff(bytes(bad))
    # strip offset pointed past EOF
    bad = bytearray(good)
    i = good.find(struct.pack("<HHI", 273, 4, 1))
    bad[i + 8 : i + 12] = struct.pack("<I", len(good) + 100)
    with pytest.raises(ValueError):
        M.decode_tiff(bytes(bad))
    # LZW strip truncated: decoded bytes disagree with geometry
    with pytest.raises(ValueError):
        M.decode_tiff(good[:-4])


def test_tiff_property_roundtrip():
    """Hypothesis sweep: any (shape, channels, compression, strip
    size, byte order, predictor) combination in the supported
    envelope round-trips exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vearch_spark.functions.media import decode_tiff, tiff_bytes

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 20),
        w=st.integers(1, 20),
        ch=st.sampled_from([1, 3, 4]),
        comp=st.sampled_from(["none", "lzw", "packbits"]),
        rps=st.integers(1, 24),
        be=st.booleans(),
        pred=st.booleans(),
        vals=st.integers(2, 256),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(h, w, ch, comp, rps, be, pred, vals, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w) if ch == 1 else (h, w, ch)
        px = rng.integers(0, vals, shape, dtype=np.uint8)
        use_pred = pred and comp == "lzw"
        blob = tiff_bytes(
            px, compression=comp, rows_per_strip=rps,
            big_endian=be, predictor=use_pred,
        )
        assert np.array_equal(decode_tiff(blob), px)

    check()


def test_tiff_lzw_last_code_at_width_boundary():
    """Regression: this 256-byte strip's last data code lands where the
    decoder's table reaches 2^9 - 1 entries, so the decoder widens to
    10 bits before EOI; an encoder that wrote EOI at 9 bits left the
    decoder without EOI."""
    from vearch_spark.functions.media import decode_tiff, tiff_bytes

    px = np.random.default_rng(9).integers(0, 256, (1, 256), dtype=np.uint8)
    blob = tiff_bytes(px, compression="lzw", rows_per_strip=1)
    assert np.array_equal(decode_tiff(blob), px)


def test_flac_property_roundtrip():
    """Hypothesis sweep: any (length, channels, depth, block size)
    combination round-trips the exact integers, MD5 gate included."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vearch_spark.functions.media import decode_flac, flac_bytes

    @settings(max_examples=20, deadline=None)
    @given(
        n=st.integers(1, 700),
        ch=st.integers(1, 3),
        bps=st.sampled_from([8, 16, 24]),
        bsz=st.sampled_from([64, 192, 4096]),
        smooth=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(n, ch, bps, bsz, smooth, seed):
        rng = np.random.default_rng(seed)
        hi = 1 << (bps - 1)
        x = rng.integers(-hi, hi, (n, ch), dtype=np.int64)
        if smooth:
            x = np.cumsum(x // 64, axis=0).clip(-hi, hi - 1)
        blob = flac_bytes(x, 8000, bps, block_size=bsz)
        assert np.array_equal(decode_flac(blob), x)

    check()


def _golden_cases():
    """Seeded encoder inputs, name -> zero-arg encode call."""
    from vearch_spark.functions import media as M

    def rotation(enc_index):
        def run():
            out = []
            for i in range(enc_index, 400, 4):
                g, v = i // 4, i % 4
                x, y = np.meshgrid(np.arange(18), np.arange(16))
                img = np.stack(
                    [
                        (g * 37 + x * x * 7 + y * y * 11 + x * y * 13 + c * 19) % 256
                        for c in range(3)
                    ],
                    -1,
                ).astype(np.uint8)
                img[:2, :2, :] = (img[:2, :2, :] + v * 3) % 256
                enc = (M.png_bytes, M.webp_bytes, M.bmp_bytes, M.tiff_bytes)[i % 4]
                out.append(enc(img))
            return b"".join(out)

        return run

    rng = np.random.default_rng(20)
    blocky = (rng.integers(0, 4, (20, 24, 4)) * 60).astype(np.uint8)
    blocky[5:9] = blocky[0:4]  # vertical repeats for LZ77
    noisy = np.random.default_rng(21).integers(0, 256, (48, 64, 3), dtype=np.uint8)
    smooth = np.cumsum(
        np.random.default_rng(22).integers(-3, 4, (40, 50, 3)), axis=1
    ).astype(np.uint8)
    edge = np.random.default_rng(9).integers(0, 256, (1, 256), dtype=np.uint8)
    walk = np.cumsum(np.random.default_rng(23).integers(-300, 301, 5000))
    mono = np.clip(walk, -32768, 32767)
    stereo = np.stack(
        [
            mono[:3000],
            np.random.default_rng(24).integers(-32768, 32768, 3000),
        ],
        axis=1,
    )
    stereo[:1024, 1] = 17  # a CONSTANT subframe
    cases = {f"near_dup_{n}": rotation(k) for k, n in enumerate(("png", "webp", "bmp", "tiff"))}
    for cb in (0, 6, 11):
        for lz in (True, False):
            cases[f"webp_cache{cb}_lz77{int(lz)}"] = (
                lambda cb=cb, lz=lz: M.webp_bytes(blocky, cache_bits=cb, use_lz77=lz)
            )
    cases["webp_gray_no_subtract_green"] = lambda: M.webp_bytes(
        smooth[..., 0], subtract_green=False
    )
    cases["tiff_lzw_clear"] = lambda: M.tiff_bytes(noisy, rows_per_strip=64)
    cases["tiff_lzw_predictor_be"] = lambda: M.tiff_bytes(
        smooth, rows_per_strip=7, predictor=True, big_endian=True
    )
    cases["tiff_lzw_width_boundary"] = lambda: M.tiff_bytes(edge, rows_per_strip=1)
    cases["png_adam7_rgba"] = lambda: M.png_bytes(blocky, interlace=True)
    cases["png_gray16"] = lambda: M.png_bytes(
        (smooth[..., 0].astype(np.uint16) * 257), filters=4
    )
    cases["bmp_noisy"] = lambda: M.bmp_bytes(noisy)
    cases["flac_mono"] = lambda: M.flac_bytes(mono, block_size=4096)
    cases["flac_stereo"] = lambda: M.flac_bytes(stereo, block_size=1024)
    return cases


_GOLDEN_SHA256 = {
    "near_dup_png": "46ed77d10b016dd5d027d89a4ea47f4fe8ca25e31aec4b688ad368d3e01b7bdd",
    "near_dup_webp": "4aae7329bd4c31f35b4551ab1c4401844793b3471246798e9c95585dea91a94c",
    "near_dup_bmp": "f8852c127d45c5f6d1daf68356e43b8e61da3d9601d581b3c67e12d41a709751",
    "near_dup_tiff": "f6f8ede20d3d51664add80673142cb5d431fda26f5b76b21182b80010caa5072",
    "webp_cache0_lz771": "d945955ee7d2ff8f6ec61613d35d8ea655f646c00254ec8a7d2ffa02b5e337a2",
    "webp_cache0_lz770": "d70cef4baece14fe156aa2aeacdb1f7b38f60d2b2c07af7c9f8adfdcfc3b06f9",
    "webp_cache6_lz771": "945ebb841bc846c40f30856f5a5f2ef9f319f52c83c821cd97c5333c6088c31b",
    "webp_cache6_lz770": "7834f9ab7f2df35c2f902cc797ab645ce3a8c407ff503a69bb122a1f4ea0f3db",
    "webp_cache11_lz771": "45bd0dde2875bf97172aa55dbd5aff7516d60951660d4d9b564fd3f649a7928b",
    "webp_cache11_lz770": "6b799d3bbd6bfc18a22dc9fac4120a60d51aa6052d5b778fcb4c3fe78bc88bdb",
    "webp_gray_no_subtract_green": "98be50dc0d8c6c74edf1485f4c5e381293612c233d855f206d8ae4b2849925e0",
    "tiff_lzw_clear": "df24c2e836c43c871703c3a7c0206b1ca63f1fe3485f4ae6708b7c9204a3fdb3",
    "tiff_lzw_predictor_be": "4fdd69956550dc28f7477012ca9f49218834640f058c62acae75f86956adc5ba",
    "tiff_lzw_width_boundary": "d6a337376d7e4bde9f10e266362e3e39a3eace8fc956a85bfa4fa9890c026c06",
    "png_adam7_rgba": "d9729ddaa4f117816b589f62f12f86872d7f031bb929334ce3186c83af3b4a31",
    "png_gray16": "62ea162ab428b465075df745bbd73c1f9abc56724f71214d59b9522e43eb4a50",
    "bmp_noisy": "3bbe6d078e6c1419f431e03b6a9d91f031652e3e59075f32efb815e8bb69fd53",
    "flac_mono": "b5eb0ac41848bb6ff98f6b4265545805246faac582e4d4493d30c28000f11b69",
    "flac_stereo": "f32f8ec7ac13f44fac6b354ca81d04b2e1659836dd2a3eb38998126de81d3d69",
}


def test_encoders_byte_identical_to_golden_hashes():
    """Encoder output is pinned byte for byte: the kernels may be
    rewritten for speed, but every PNG/WebP/BMP/TIFF/FLAC byte stays
    what these SHA-256 digests recorded (the image_near_dup rotation,
    WebP cache/LZ77 modes, a TIFF strip long enough to CLEAR, the LZW
    width-boundary strip, FLAC mono and stereo)."""
    import hashlib

    got = {
        name: hashlib.sha256(run()).hexdigest()
        for name, run in _golden_cases().items()
    }
    assert got == _GOLDEN_SHA256
