"""Real (stdlib-only) media codecs for the multimodal column.

The multimodal operator plumbing (operators/multimodal.py) is
decoder-pluggable; heavyweight image/audio libraries are not in this
container, so these are the two formats a pure stdlib+numpy
implementation can decode FOR REAL — no fake, no stub:

- **WAV (RIFF PCM)** via the stdlib ``wave`` module: 8/16/24/32-bit
  PCM, any channel count; decode returns the mono-mixed float waveform
  in [-1, 1). The reference treats media as opaque bytes end-to-end
  (BINARY fields, doc_parse.go); decoding is this engine's
  training-data-pipeline extension.
- **PGM/PPM (netpbm P5/P6)** hand-parsed: binary grayscale/RGB with
  maxval ≤ 255; decode returns the (H, W) / (H, W, 3) uint8 pixel
  array.
- **PNG** hand-parsed on stdlib ``zlib``: 8-bit gray / gray+alpha /
  RGB / RGBA plus palette (color type 3) at bit depths 1/2/4/8 with
  ``tRNS`` transparency, all five scanline filters
  (None/Sub/Up/Average/Paeth, RFC 2083 §6), Adam7 interlacing (seven
  independently filtered passes, §2.6), CRC-verified chunks,
  multi-IDAT; decode returns the (H, W[, C]) uint8 pixel array
  (palette images expand to RGB, or RGBA when ``tRNS`` is present;
  16-bit images return uint16).
- **JPEG (T.81)** hand-implemented: numpy float64 FDCT/IDCT, Annex K
  quantization tables scaled by the libjpeg quality convention,
  canonical Huffman coding with the tables read from the stream's own
  DHT segments, restart intervals, chroma subsampling (4:2:0 / 4:2:2
  and any h/v ∈ 1..4 dividing the maxima), and progressive (SOF2)
  decoding — spectral selection + successive approximation, EOB runs,
  per-scan DHT. The encoder can emit baseline or progressive (the
  simple-progression scan script with Annex-K.2 optimal AC tables).
  8-bit gray and YCbCr; arithmetic-coded / 12-bit / lossless streams
  raise a typed error. Lossy by design — tests pin encode
  byte-determinism, decode pixel-determinism, progressive ≡ baseline
  pixel equality, and error BOUNDS vs the source (MP3 stays
  sanctioned out — no stdlib entropy/MDCT path).

- **GIF (87a/89a)** hand-implemented: real variable-width LZW
  (widths 3..12, CLEAR at 4096), global/local color tables,
  transparency (GCE), animation frames with sub-rectangle placement
  and disposal compositing, 4-pass row interlace. Lossless — exact
  palette-index round-trips; animated streams are the frame-sample
  pipeline path.

- **AVI (RIFF)** hand-parsed: MJPEG ('00dc', each frame a complete
  JPEG through this module's own T.81 decoder) and uncompressed
  24-bit DIB ('00db', bottom-up BGR, lossless) video streams — the
  real video-container path for frame sampling.
- **BMP** (24-bit uncompressed, top-down and bottom-up): a one-frame
  DIB with a file header — decode reuses the AVI pixel path; exact.

``register_media_decoders()`` plugs them into the multimodal
extract_features path ('audio' → WAV, 'image' → PNG/JPEG/GIF/netpbm
by magic, 'video' → AVI frames). Encoders (``wav_bytes`` / ``pgm_bytes`` / ``png_bytes`` /
``jpeg_bytes``) exist so pipelines and tests can round-trip real
containers deterministically.
"""

from __future__ import annotations

import bisect
import collections
import functools
import io
import itertools
import struct
import wave
import zlib

import numpy as np


def _typed_decode_errors(fn):
    """Corrupt bytes must surface as ValueError, never as the stdlib's
    incidental exception zoo (struct.error, zlib.error, wave.Error,
    KeyError/IndexError from malformed tables) — a pipeline over
    scraped corpora filters decode failures by type."""

    @functools.wraps(fn)
    def wrapped(content, *a, **kw):
        try:
            return fn(content, *a, **kw)
        except ValueError:
            raise
        except (struct.error, zlib.error, wave.Error, EOFError, KeyError,
                IndexError, OSError, RuntimeError, OverflowError) as exc:
            # RuntimeError/OSError: the stdlib wave/chunk modules raise
            # both bare on corrupt chunk lengths and seeks
            raise ValueError(f"corrupt {fn.__name__} payload: {exc}") from exc

    return wrapped

# ------------------------------------------------------------------ WAV


def wav_bytes(
    samples: np.ndarray | list[int], sample_rate: int = 8000, channels: int = 1
) -> bytes:
    """Encode int16 PCM samples as a real RIFF/WAVE container
    (interleaved when ``channels`` > 1; frame count = len/channels)."""
    arr = np.asarray(samples, dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(int(channels))
        w.setsampwidth(2)
        w.setframerate(int(sample_rate))
        w.writeframes(arr.astype("<i2").tobytes())
    return buf.getvalue()


@_typed_decode_errors
def wav_info(content: bytes) -> dict:
    """Container metadata without decoding the payload: sample_rate,
    channels, sampwidth (bytes), n_frames, duration_ms."""
    with wave.open(io.BytesIO(content), "rb") as w:
        rate = w.getframerate()
        n = w.getnframes()
        return {
            "sample_rate": rate,
            "channels": w.getnchannels(),
            "sampwidth": w.getsampwidth(),
            "n_frames": n,
            "duration_ms": int(n * 1000 / rate) if rate else 0,
        }


@_typed_decode_errors
def decode_wav_pcm(content: bytes) -> np.ndarray:
    """Decode RIFF PCM to the raw integer sample matrix
    (n_frames, channels) — exact, no float rounding: 8-bit unsigned is
    re-centered to signed, 16/32-bit are native little-endian, 24-bit
    is sign-extended manually (numpy has no int24)."""
    with wave.open(io.BytesIO(content), "rb") as w:
        ch = w.getnchannels()
        width = w.getsampwidth()
        frames = w.readframes(w.getnframes())
    if width == 1:
        x = np.frombuffer(frames, dtype=np.uint8).astype(np.int32) - 128
    elif width == 2:
        x = np.frombuffer(frames, dtype="<i2").astype(np.int32)
    elif width == 3:
        raw = np.frombuffer(frames, dtype=np.uint8).reshape(-1, 3)
        x = (
            raw[:, 0].astype(np.int32)
            | (raw[:, 1].astype(np.int32) << 8)
            | (raw[:, 2].astype(np.int32) << 16)
        )
        x = np.where(x >= 1 << 23, x - (1 << 24), x)
    elif width == 4:
        x = np.frombuffer(frames, dtype="<i4").astype(np.int64)
    else:
        raise ValueError(f"unsupported PCM sample width: {width}")
    return x.reshape(-1, ch)


@_typed_decode_errors
def decode_wav(content: bytes) -> np.ndarray:
    """Decoder-contract form (register_decoder: bytes → (samples,)):
    mono-mixed waveform as float64 in [-1, 1) — channel mean divided by
    the format's full scale."""
    with wave.open(io.BytesIO(content), "rb") as w:
        width = w.getsampwidth()
    pcm = decode_wav_pcm(content)
    scale = float(1 << (8 * width - 1))
    return pcm.mean(axis=1) / scale


# ---------------------------------------------------------------- netpbm


def pgm_bytes(pixels: np.ndarray | list[list[int]]) -> bytes:
    """Encode a uint8 array as binary netpbm: (H, W) → P5 grayscale,
    (H, W, 3) → P6 RGB."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        magic = b"P5"
    elif arr.ndim == 3 and arr.shape[2] == 3:
        magic = b"P6"
    else:
        raise ValueError(f"expected (H,W) or (H,W,3), got {arr.shape}")
    h, w = arr.shape[:2]
    return magic + f"\n{w} {h}\n255\n".encode() + arr.tobytes()


def _pbm_tokens(content: bytes, n: int) -> tuple[list[int], int]:
    """Read ``n`` whitespace-separated header tokens after the magic,
    honoring '#' comments (netpbm spec); returns (tokens, payload_pos)."""
    pos = 2  # past magic
    out: list[int] = []
    while len(out) < n:
        # skip whitespace and comment lines
        while pos < len(content):
            c = content[pos : pos + 1]
            if c == b"#":
                nl = content.find(b"\n", pos)
                pos = len(content) if nl < 0 else nl + 1
            elif c.isspace():
                pos += 1
            else:
                break
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated netpbm header")
        out.append(int(content[start:pos]))
    return out, pos + 1  # exactly ONE whitespace byte before the payload


@_typed_decode_errors
def decode_pgm(content: bytes) -> np.ndarray:
    """Decode binary netpbm (P5 grayscale → (H, W); P6 RGB →
    (H, W, 3)) with maxval ≤ 255. Exact uint8 pixels."""
    magic = content[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary netpbm payload: {magic!r}")
    (w, h, maxval), pos = _pbm_tokens(content, 3)
    if maxval > 255:
        raise ValueError(f"16-bit netpbm not supported (maxval={maxval})")
    ch = 1 if magic == b"P5" else 3
    need = w * h * ch
    data = np.frombuffer(content, dtype=np.uint8, count=need, offset=pos)
    return data.reshape((h, w) if ch == 1 else (h, w, 3))


# ------------------------------------------------------------------- PNG
#
# RFC 2083: signature + length-tagged CRC'd chunks; IHDR fixes the
# geometry, IDAT chunks concatenate into one zlib stream whose
# decompressed form is H scanlines, each a 1-byte filter tag + the
# filtered bytes. Only non-interlaced 8-bit depth is supported — that
# covers gray (color type 0), gray+alpha (4), RGB (2) and RGBA (6).

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type → samples/pixel

# Adam7 interlace pass grid (x_start, y_start, x_step, y_step) per
# pass, RFC 2083 §2.6 — each pass is an independently filtered
# sub-image; empty passes contribute no bytes at all
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]

# decompression-bomb guards: a corrupt or hostile header must not
# drive a giant allocation or an unbounded decode loop — scraped
# corpora contain both. PNG decodes into uint8 rows (64M px ≈ 256 MB
# RGBA); JPEG decodes through float64 planes plus a per-block Python
# loop, ~20× the footprint and far more CPU per pixel, so its cap is
# proportionally lower (4M px = 2048×2048, still far above any
# training-data thumbnail).
_MAX_DECODE_PIXELS = 1 << 26
_MAX_JPEG_PIXELS = 1 << 22


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PaethPredictor (RFC 2083 §6.6) vectorized over a scanline
    position: nearest of left/up/up-left to p = a + b − c, ties
    breaking left, then up."""
    p = a.astype(np.int32) + b.astype(np.int32) - c.astype(np.int32)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)).astype(
        np.uint8
    )


def _filter_row(ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Apply filter ``ftype`` to a raw scanline (encode direction); a
    2-D ``row`` filters each of its rows against the same row of
    ``prev``."""
    r32 = row.astype(np.int32)
    pad = np.zeros(row.shape[:-1] + (bpp,), np.int32)
    left = np.concatenate([pad, r32[..., :-bpp]], axis=-1)
    up = prev.astype(np.int32)
    upleft = np.concatenate([pad.astype(np.uint8), prev[..., :-bpp]], axis=-1)
    if ftype == 0:
        out = r32
    elif ftype == 1:  # Sub
        out = r32 - left
    elif ftype == 2:  # Up
        out = r32 - up
    elif ftype == 3:  # Average
        out = r32 - (left + up) // 2
    elif ftype == 4:  # Paeth
        out = r32 - _paeth(left.astype(np.uint8), prev, upleft)
    else:
        raise ValueError(f"PNG filter type out of range: {ftype}")
    return (out % 256).astype(np.uint8)


def _unfilter_row(ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Invert filter ``ftype`` over one scanline. Sub is a per-channel
    running sum mod 256; Average / Paeth recurse on the just-
    reconstructed left pixel, so they loop over Python ints (rows are
    short; the batch axis is Arrow's)."""
    if ftype == 0:
        return row
    if ftype == 2:  # Up — no left-dependence, fully vectorized
        return row + prev
    if ftype == 1:  # Sub: uint8 accumulation wraps mod 256
        return np.cumsum(row.reshape(-1, bpp), axis=0, dtype=np.uint8).ravel()
    if ftype not in (3, 4):
        raise ValueError(f"PNG filter type out of range: {ftype}")
    out = row.tolist()
    up = prev.tolist()
    for i in range(bpp):  # no left pixel: both predict from up alone
        out[i] = (out[i] + (up[i] >> 1 if ftype == 3 else up[i])) & 0xFF
    if ftype == 3:  # Average
        for i in range(bpp, len(out)):
            out[i] = (out[i] + ((out[i - bpp] + up[i]) >> 1)) & 0xFF
    else:  # Paeth
        for i in range(bpp, len(out)):
            a, b, c = out[i - bpp], up[i], up[i - bpp]
            pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - c - c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out[i] = (out[i] + pred) & 0xFF
    return np.array(out, dtype=np.uint8)


def png_bytes(
    pixels: np.ndarray | list,
    filters: int | list[int] | None = None,
    interlace: bool = False,
) -> bytes:
    """Encode a uint8 (or uint16 → 16-bit PNG) array as a real PNG:
    (H, W) → gray, (H, W, 2) → gray+alpha, (H, W, 3) → RGB,
    (H, W, 4) → RGBA. ``filters`` picks the per-scanline filter type
    (int for all rows, list per row, default row-index mod 5 so every
    filter is exercised) — any choice decodes to the same pixels,
    which is exactly what the round-trip tests pin. ``interlace=True``
    writes Adam7: seven independently filtered sub-images (per-row
    ``filters`` lists then apply within each pass by pass-row index).
    16-bit samples write big-endian (RFC 2083 §2.1); filters operate
    on their BYTES with bpp = 2·channels."""
    arr = np.asarray(pixels)
    depth = 16 if arr.dtype == np.uint16 else 8
    arr = arr.astype(np.uint16 if depth == 16 else np.uint8)
    if arr.ndim == 2:
        color_type, ch = 0, 1
    elif arr.ndim == 3 and arr.shape[2] in (2, 3, 4):
        ch = arr.shape[2]
        color_type = {2: 4, 3: 2, 4: 6}[ch]
    else:
        raise ValueError(f"expected (H,W[,2|3|4]) uint8/uint16, got {arr.shape}")
    h, w = arr.shape[:2]
    arr3 = arr.reshape(h, w, ch)
    bpp = ch * (depth // 8)

    if filters is not None and not isinstance(filters, int):
        # exact-length check: a wrong-size list is a caller bug and
        # must not pass silently. Non-interlaced = one entry per image
        # row; Adam7 = one entry per PASS row (indexed within each
        # pass), so the list must be exactly the tallest pass's height
        need = (
            max(
                (h - y0 + dy - 1) // dy
                for _, y0, _, dy in _ADAM7
                if h > y0
            )
            if interlace
            else h
        )
        if len(filters) != need:
            raise ValueError(
                f"filters: expected exactly {need} row entries"
                f" ({'max Adam7 pass height' if interlace else 'image height'}),"
                f" got {len(filters)}"
            )

    def ftype_of(r: int, ph: int) -> int:
        if filters is None:
            return r % 5
        if isinstance(filters, int):
            return filters
        return filters[r]

    raw = bytearray()
    for x0, y0, dx, dy in (_ADAM7 if interlace else [(0, 0, 1, 1)]):
        sub = arr3[y0::dy, x0::dx]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        if depth == 16:
            flat = np.frombuffer(
                np.ascontiguousarray(sub).astype(">u2").tobytes(), dtype=np.uint8
            ).reshape(ph, pw * bpp)
        else:
            flat = np.ascontiguousarray(sub).reshape(ph, pw * ch)
        # filters read raw bytes only, so all rows of a type filter at once
        ftypes = np.array([ftype_of(r, ph) for r in range(ph)])
        up = np.zeros_like(flat)
        up[1:] = flat[:-1]
        rows = np.empty((ph, flat.shape[1] + 1), dtype=np.uint8)
        for f in np.unique(ftypes):
            sel = ftypes == f
            rows[sel, 1:] = _filter_row(int(f), flat[sel], up[sel], bpp)
        rows[:, 0] = ftypes
        raw += rows.tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, int(interlace))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + _png_chunk(b"IEND", b"")
    )


@_typed_decode_errors
def png_info(content: bytes) -> dict:
    """IHDR metadata without inflating the payload."""
    if content[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    if content[12:16] != b"IHDR":
        raise ValueError("PNG missing IHDR")
    w, h, depth, color_type, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", content[16:29]
    )
    return {
        "width": w,
        "height": h,
        "bit_depth": depth,
        "color_type": color_type,
        "channels": _PNG_CHANNELS.get(color_type),
        "interlace": interlace,
    }


def _pack_indices_row(row: np.ndarray, bit_depth: int) -> bytes:
    """Pack one scanline of palette indices MSB-first (RFC 2083 §2.3);
    a final partial byte pads with zero bits."""
    if bit_depth == 8:
        return row.astype(np.uint8).tobytes()
    per = 8 // bit_depth
    padded = np.zeros(-(-len(row) // per) * per, dtype=np.uint16)
    padded[: len(row)] = row
    packed = np.zeros(len(padded) // per, dtype=np.uint16)
    for k in range(per):
        packed |= padded[k::per] << (8 - bit_depth * (k + 1))
    return packed.astype(np.uint8).tobytes()


def png_palette_bytes(
    indices: np.ndarray | list,
    palette: np.ndarray | list,
    trns: list[int] | None = None,
    bit_depth: int = 8,
    interlace: bool = False,
) -> bytes:
    """Encode an index matrix + RGB palette as a real color-type-3 PNG
    at ``bit_depth`` ∈ {1, 2, 4, 8} (indices pack MSB-first within each
    scanline byte, RFC 2083 §2.3). ``trns`` writes a tRNS chunk with
    per-entry alpha (may be shorter than the palette; missing entries
    are opaque). ``interlace=True`` writes Adam7 (each pass packs its
    own scanlines, so sub-byte rows re-pack per pass). Deterministic;
    fixture/round-trip counterpart of :func:`decode_png`'s palette
    path."""
    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    if idx.ndim != 2:
        raise ValueError(f"expected (H, W) index matrix, got {idx.shape}")
    if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= pal.shape[0] <= 256:
        raise ValueError(f"palette must be (1..256, 3) uint8, got {pal.shape}")
    if bit_depth not in (1, 2, 4, 8):
        raise ValueError(f"palette bit depth must be 1/2/4/8: {bit_depth}")
    if idx.max(initial=0) >= min(pal.shape[0], 1 << bit_depth):
        raise ValueError("palette index exceeds palette size / bit depth")
    h, w = idx.shape
    raw = bytearray()
    for x0, y0, dx, dy in (_ADAM7 if interlace else [(0, 0, 1, 1)]):
        sub = idx[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        for r in range(sub.shape[0]):
            raw.append(0)  # filter: None (filters act on packed bytes)
            raw += _pack_indices_row(sub[r], bit_depth)
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, 3, 0, 0, int(interlace))
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"PLTE", pal.tobytes())
    if trns is not None:
        out += _png_chunk(b"tRNS", bytes(trns))
    return out + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 9)) + _png_chunk(b"IEND", b"")


@_typed_decode_errors
def decode_png(content: bytes) -> np.ndarray:
    """Decode a PNG (non-interlaced or Adam7) to exact uint8 pixels:
    (H, W) for gray, (H, W, C) for gray+alpha / RGB / RGBA; palette
    images (color type 3, bit depth 1/2/4/8) expand through PLTE to
    RGB — or RGBA when a tRNS chunk is present (entries past the tRNS
    length are opaque, RFC 2083 §4.2.1); 16-bit non-palette images
    return uint16 (big-endian sample pairs, filter bpp = 2·channels).
    Chunk CRCs are verified; undefined depth/color-type combinations
    raise ValueError rather than decode approximately."""
    if content[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos, ihdr, idat = 8, None, bytearray()
    plte: bytes | None = None
    trns: bytes | None = None
    while pos + 8 <= len(content):
        (length,) = struct.unpack(">I", content[pos : pos + 4])
        tag = content[pos + 4 : pos + 8]
        body = content[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError(f"truncated PNG chunk {tag!r}")
        (crc,) = struct.unpack(">I", content[pos + 8 + length : pos + 12 + length])
        if crc != (zlib.crc32(tag + body) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = body
        elif tag == b"tRNS":
            trns = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    paletted = color_type == 3
    if paletted:
        if depth not in (1, 2, 4, 8):
            raise ValueError(f"palette PNG bit depth must be 1/2/4/8: {depth}")
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        if len(plte) % 3 or not 3 <= len(plte) <= 768:
            raise ValueError(f"PLTE length must be 3·(1..256): {len(plte)}")
    elif depth not in (8, 16):
        raise ValueError(f"only 8/16-bit PNG supported (bit depth {depth})")
    elif color_type not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if w * h > _MAX_DECODE_PIXELS:
        raise ValueError(f"image too large to decode: {w}x{h}")
    ch = 1 if paletted else _PNG_CHANNELS[color_type]
    # pass geometry: Adam7 splits the image into 7 sub-images, each
    # filtered independently (RFC 2083 §2.6 — empty passes contribute
    # no bytes, not even filter tags); non-interlaced is the single
    # full-size "pass", so both paths share one unfilter/unpack loop.
    # Strides are BYTES: sub-byte palette depths pack ⌈pw·depth/8⌉ per
    # scanline; filters operate on packed bytes with bpp = 1 (§6.2:
    # bpp rounds up to one byte below 8-bit depth)
    grids = _ADAM7 if interlace else [(0, 0, 1, 1)]
    spans = []
    for x0, y0, dx, dy in grids:
        pw, ph = (w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            spans.append((x0, y0, dx, dy, pw, ph, -(-pw * depth * ch // 8)))
    bpp = max(1, depth * ch // 8)
    # bounded inflate: an honest-header zlib bomb (a small IDAT can
    # inflate ~1032:1) must not materialize past the geometry's exact
    # byte count — cap the decompressor at expected+1 (overflow shows
    # as len != expect). dec.eof requires the stream's final block AND
    # its adler32 trailer (zlib.decompress's integrity semantics — a
    # truncated stream that happens to yield the right byte count must
    # still be rejected); unused_data rejects trailing garbage after
    # the stream (IDAT is exactly one zlib stream, RFC 2083 §2.2).
    expect = sum(ph * (stride + 1) for *_, ph, stride in spans)
    dec = zlib.decompressobj()
    raw = dec.decompress(bytes(idat), expect + 1)
    if len(raw) != expect:
        raise ValueError(
            f"PNG payload size mismatch: {len(raw)} != {expect}"
        )
    if not dec.eof or dec.unused_data:
        raise ValueError("PNG IDAT stream truncated or carries trailing data")
    samples = np.zeros((h, w, ch), dtype=np.uint16 if depth == 16 else np.uint8)
    off = 0
    for x0, y0, dx, dy, pw, ph, stride in spans:
        rows = np.empty((ph, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.uint8)
        for r in range(ph):
            line = np.frombuffer(
                raw, dtype=np.uint8, count=stride, offset=off + r * (stride + 1) + 1
            )
            prev = _unfilter_row(raw[off + r * (stride + 1)], line.copy(), prev, bpp)
            rows[r] = prev
        off += ph * (stride + 1)
        if depth == 16:
            # big-endian sample pairs (RFC 2083 §2.1)
            pairs = rows[:, : pw * ch * 2].reshape(ph, pw, ch, 2)
            px = (pairs[..., 0].astype(np.uint16) << 8) | pairs[..., 1]
        elif depth == 8:
            px = rows[:, : pw * ch].reshape(ph, pw, ch)
        else:
            # unpack sub-byte palette indices, MSB-first within a byte
            per = 8 // depth
            mask = (1 << depth) - 1
            shifts = np.array(
                [8 - depth * (k + 1) for k in range(per)], dtype=np.uint8
            )
            px = ((rows[:, :, None] >> shifts[None, None, :]) & mask).reshape(
                ph, -1
            )[:, :pw][..., None]
        samples[y0::dy, x0::dx] = px
    if not paletted:
        return samples.reshape((h, w)) if ch == 1 else samples
    # expand indices through the palette; tRNS upgrades to RGBA
    idx = samples[..., 0].astype(np.int64)
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    if idx.max(initial=0) >= pal.shape[0]:
        raise ValueError(
            f"palette index {int(idx.max())} out of range ({pal.shape[0]} entries)"
        )
    if trns is None:
        return pal[idx]
    if len(trns) > pal.shape[0]:
        raise ValueError("tRNS longer than palette")
    alpha = np.full(pal.shape[0], 255, dtype=np.uint8)
    alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
    return np.concatenate([pal[idx], alpha[idx][..., None]], axis=-1)


# ------------------------------------------------------------------ JPEG
#
# ITU-T T.81 DCT codec, coefficient-domain architecture: every scan
# (sequential full-band, progressive DC/AC first and refinement)
# entropy-decodes into per-component zigzag coefficient arrays; one
# shared vectorized dequant+IDCT / upsample / color-convert stage
# reconstructs pixels. The encoder emits 8-bit gray or YCbCr at
# 4:4:4 / 4:2:2 / 4:2:0, baseline (Annex K typical Huffman tables) or
# progressive (SOF2, the libjpeg simple-progression scan script with
# per-scan optimal AC tables built by the Annex K.2 procedure — the
# EOBn symbols progressive needs don't exist in the typical tables).
# The decoder reads DQT/DHT from the stream (no assumption the
# encoder was ours), supports restart intervals (DRI/RSTn), multi-
# scan streams with between-scan table updates, any h/v sampling in
# 1..4 dividing the frame maxima, and raises typed errors on
# arithmetic coding, 12-bit precision, lossless modes, fractional
# sampling ratios, or entropy data that outlives its geometry. JPEG
# is lossy, so round-trip tests pin (a) byte-determinism of encode
# and pixel-determinism of decode, (b) an error BOUND vs the source
# image, and (c) progressive decode ≡ baseline decode bit-exactly
# (both share the quantized coefficients).

# Annex K Table K.1 / K.2 base quantization tables (row-major 8×8).
_JPEG_QL = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
_JPEG_QC = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Zigzag scan order: _JPEG_ZZ[k] = row-major index of the k-th
# coefficient in scan order (T.81 Figure 5).
_JPEG_ZZ = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K "typical" Huffman tables as (BITS[1..16], HUFFVAL) pairs.
_DC_L_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_L_VALS = list(range(12))
_DC_C_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_C_VALS = list(range(12))
_AC_L_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_L_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_AC_C_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_C_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Orthonormal 8-point DCT-II basis: S = _DCT8 @ block @ _DCT8.T is
# exactly T.81's FDCT (and _DCT8.T @ S @ _DCT8 its inverse). float64
# matmul with a fixed operation order keeps decode deterministic.
_DCT8 = 0.5 * np.cos(
    (2 * np.arange(8)[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16
)
_DCT8[0, :] *= 1.0 / np.sqrt(2.0)


def _jpeg_qtable(base: np.ndarray, quality: int) -> np.ndarray:
    """Scale an Annex K base table by the libjpeg quality convention:
    q<50 boosts (5000/q), q≥50 attenuates (200−2q); entries clamp to
    [1, 255] (baseline requires 8-bit table values)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"jpeg quality must be in [1, 100]: {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def _huff_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical JPEG Huffman code assignment (T.81 Annex C):
    symbol → (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    """MSB-first bit accumulator with JPEG byte stuffing (an emitted
    0xFF data byte is followed by 0x00)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, length: int) -> None:
        if length == 0:
            return
        self._acc = (self._acc << length) | (value & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        """Pad the final partial byte with 1-bits (T.81 F.1.2.3)."""
        if self._n:
            self.put(0x7F, 8 - self._n)


def _jpeg_put_coeff(w: _BitWriter, huff: dict, sym_high: int, v: int) -> None:
    """Emit one (runlength|size) Huffman symbol + the magnitude bits of
    ``v`` (negative values use the one's-complement convention)."""
    size = int(v).bit_length() if v >= 0 else int(-v).bit_length()
    code, length = huff[(sym_high << 4) | size]
    w.put(code, length)
    if size:
        w.put(v if v >= 0 else v + (1 << size) - 1, size)


# Sampling-factor presets (Y, Cb, Cr). 4:2:0 halves chroma both ways,
# 4:2:2 horizontally only; the reference pipeline ingests only float
# vectors (doc_parse.go) — wild-format decode is this engine's
# training-data extension, and real crawls are dominated by 4:2:0.
_JPEG_SAMPLING = {
    "4:4:4": ((1, 1), (1, 1), (1, 1)),
    "4:2:2": ((2, 1), (1, 1), (1, 1)),
    "4:2:0": ((2, 2), (1, 1), (1, 1)),
}


def _fdct_quant_blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """FDCT + quantize a block-aligned float64 plane in one vectorized
    pass → int64 coefficients in zigzag order, shape (bh, bw, 64). AC
    magnitudes clamp to ±1023 (baseline Huffman size ≤ 10 — only
    reachable at quality=100 on near-basis blocks); DC is exempt (its
    size-11 symbol covers the full range an 8-bit block can produce)."""
    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    coeffs = np.einsum("ij,abjk,lk->abil", _DCT8, blocks, _DCT8)
    qd = np.round(coeffs.reshape(bh, bw, 64) / q).astype(np.int64)
    dc = qd[..., 0].copy()
    np.clip(qd, -1023, 1023, out=qd)
    qd[..., 0] = dc
    return qd[..., _JPEG_ZZ]


def _idct_plane(zcoef: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Dequantize zigzag coefficients (bh, bw, 64) and inverse-DCT the
    whole plane in one vectorized pass → float64 (bh·8, bw·8).
    Fixed-order einsum keeps decode deterministic."""
    bh, bw = zcoef.shape[:2]
    levels = np.zeros((bh, bw, 64), dtype=np.float64)
    levels[..., _JPEG_ZZ] = zcoef  # zigzag → row-major, THEN dequant
    cb = (levels * q).reshape(bh, bw, 8, 8)
    spat = np.einsum("ji,abjk,kl->abil", _DCT8, cb, _DCT8)
    return spat.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)


def _huff_build(freq: dict[int, int]) -> tuple[list[int], list[int]]:
    """Optimal canonical Huffman table from symbol frequencies — the
    T.81 Annex K.2 procedure (code-size assignment by pairwise merge,
    BITS-list limiting to 16, reserved all-ones codepoint removed).
    Needed for progressive AC scans: their EOBn symbols (0x10..0xE0)
    don't exist in the Annex K typical tables, so real progressive
    encoders always emit custom DHT segments."""
    f = [0] * 257
    for sym, n in freq.items():
        f[sym] = n
    f[256] = 1  # reserved codepoint: guarantees no all-ones code
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        # two least-frequent part-trees; ties break toward the larger
        # symbol value (<=) — the deterministic Annex K convention
        c1, v = -1, None
        for i in range(257):
            if f[i] and (v is None or f[i] <= v):
                v, c1 = f[i], i
        c2, v = -1, None
        for i in range(257):
            if f[i] and i != c1 and (v is None or f[i] <= v):
                v, c2 = f[i], i
        if c2 < 0:
            break
        f[c1] += f[c2]
        f[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = others[c2]
            codesize[c2] += 1
    bits = [0] * 33
    for i in range(257):
        if codesize[i]:
            bits[codesize[i]] += 1
    # limit code lengths to 16 (Annex K.2 Figure K.3 adjustment)
    for length in range(32, 16, -1):
        while bits[length] > 0:
            j = length - 2
            while bits[j] == 0:
                j -= 1
            bits[length] -= 2
            bits[length - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
    length = 16
    while bits[length] == 0:
        length -= 1
    bits[length] -= 1  # drop the reserved codepoint
    vals = sorted(
        (s for s in range(256) if codesize[s]), key=lambda s: (codesize[s], s)
    )
    return bits[1:17], vals


class _HuffEmitter:
    """Two-pass sink for progressive AC scans: with no writer it
    tallies Huffman symbol frequencies (pass 1 → _huff_build); with a
    writer + table it emits real codes (pass 2). Magnitude/raw bits
    cost nothing in count mode."""

    def __init__(self, wtr: _BitWriter | None = None, tab: dict | None = None):
        self.wtr = wtr
        self.tab = tab
        self.freq: dict[int, int] = {}

    def sym(self, s: int) -> None:
        if self.wtr is None:
            self.freq[s] = self.freq.get(s, 0) + 1
        else:
            code, length = self.tab[s]
            self.wtr.put(code, length)

    def put(self, v: int, n: int) -> None:
        if self.wtr is not None and n:
            self.wtr.put(v, n)


def _emit_eobrun(em: _HuffEmitter, eobrun: int, pending: list[int]) -> None:
    """Flush an EOB run (EOBn symbol = run-magnitude category << 4,
    plus extension bits) followed by the buffered correction bits that
    accumulated while the run was open (T.81 G.1.2.2-3)."""
    if eobrun:
        r = eobrun.bit_length() - 1
        em.sym(r << 4)
        em.put(eobrun - (1 << r), r)
        for b in pending:
            em.put(b, 1)
        pending.clear()


def _emit_ac_first(
    em: _HuffEmitter, blocks: list[np.ndarray], ss: int, se: int, al: int
) -> None:
    """Progressive AC first scan (Ah=0): band Ss..Se point-transformed
    by Al (truncation toward zero), run-length coded with EOB-run
    accumulation across blocks."""
    eobrun = 0
    for zz in blocks:
        vals = [
            int(v) >> al if v >= 0 else -((-int(v)) >> al) for v in zz[ss : se + 1]
        ]
        nz = [i for i, v in enumerate(vals) if v]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                _emit_eobrun(em, eobrun, [])
                eobrun = 0
            continue
        _emit_eobrun(em, eobrun, [])
        eobrun = 0
        run, last = 0, nz[-1]
        for i in range(last + 1):
            v = vals[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                em.sym(0xF0)  # ZRL
                run -= 16
            size = abs(v).bit_length()
            em.sym((run << 4) | size)
            em.put(v if v >= 0 else v + (1 << size) - 1, size)
            run = 0
        if last < se - ss:
            eobrun += 1
            if eobrun == 0x7FFF:
                _emit_eobrun(em, eobrun, [])
                eobrun = 0
    _emit_eobrun(em, eobrun, [])


def _emit_ac_refine(
    em: _HuffEmitter, blocks: list[np.ndarray], ss: int, se: int, ah: int, al: int
) -> None:
    """Progressive AC refinement scan (T.81 G.1.2.3): positions whose
    history (>> Ah) is already nonzero emit one correction bit;
    positions newly reaching magnitude 1 at this precision emit a
    (run|1) symbol + sign; zero-history runs fold into EOB runs whose
    buffered correction bits flush with the EOBn symbol."""
    eobrun = 0
    pending: list[int] = []  # correction bits carried inside an open EOB run
    for zz in blocks:
        absv = [(-int(v) if v < 0 else int(v)) >> al for v in zz[ss : se + 1]]
        eobp = -1  # last newly-significant position in this block
        for i, t in enumerate(absv):
            if t == 1:
                eobp = i
        run, br = 0, []  # br: correction bits of the current block
        for i, t in enumerate(absv):
            if t == 0:
                run += 1
                continue
            while run > 15 and i <= eobp:
                _emit_eobrun(em, eobrun, pending)
                eobrun = 0
                em.sym(0xF0)
                run -= 16
                for b in br:
                    em.put(b, 1)
                br = []
            if t > 1:
                br.append(t & 1)
                continue
            _emit_eobrun(em, eobrun, pending)
            eobrun = 0
            em.sym((run << 4) | 1)
            em.put(1 if zz[ss + i] >= 0 else 0, 1)
            for b in br:
                em.put(b, 1)
            br = []
            run = 0
        if run > 0 or br:
            eobrun += 1
            pending.extend(br)
            if eobrun == 0x7FFF:
                _emit_eobrun(em, eobrun, pending)
                eobrun = 0
    _emit_eobrun(em, eobrun, pending)


def _jpeg_geometry(h: int, w: int, samp: list[tuple[int, int]]) -> dict:
    """Per-component block geometry (T.81 A.1.1): component dims are
    ceil(size·factor/max); interleaved scans tile the full MCU grid
    (bh, bw), non-interleaved scans only the blocks covering actual
    samples (nbh, nbw)."""
    hmax = max(sh for sh, _ in samp)
    vmax = max(sv for _, sv in samp)
    for sh, sv in samp:
        if not (1 <= sh <= 4 and 1 <= sv <= 4) or hmax % sh or vmax % sv:
            raise ValueError(f"unsupported JPEG sampling factors {samp}")
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    comps = []
    for sh, sv in samp:
        cw, ch_ = -(-w * sh // hmax), -(-h * sv // vmax)
        comps.append(
            {
                "sh": sh, "sv": sv, "cw": cw, "ch": ch_,
                "bw": mcux * sh, "bh": mcuy * sv,
                "nbw": -(-cw // 8), "nbh": -(-ch_ // 8),
            }
        )
    return {"hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy, "comps": comps}


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def _sos_segment(scan_comps: list[tuple[int, int, int]], ss: int, se: int, ah: int, al: int) -> bytes:
    body = bytes([len(scan_comps)])
    for cid, td, ta in scan_comps:
        body += bytes([cid, (td << 4) | ta])
    return _seg(0xFFDA, body + bytes([ss, se, (ah << 4) | al]))


def jpeg_bytes(
    pixels: np.ndarray | list,
    quality: int = 85,
    restart_interval: int = 0,
    subsampling: str = "4:4:4",
    progressive: bool = False,
) -> bytes:
    """Encode a uint8 array as a real JFIF JPEG: (H, W) → grayscale,
    (H, W, 3) → YCbCr at ``subsampling`` ("4:4:4", "4:2:2", "4:2:0" —
    chroma box-averaged before the DCT). ``restart_interval`` > 0
    emits DRI + RSTn every that-many MCUs (baseline only).
    ``progressive=True`` emits SOF2 with the standard simple-
    progression scan script (spectral selection + successive
    approximation; DC scans use the Annex K typical tables, AC scans
    per-scan optimal Huffman tables built by the Annex K.2 procedure —
    their EOBn symbols don't exist in the typical tables).
    Deterministic: the same inputs always produce the same bytes."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        ncomp = 1
    elif arr.ndim == 3 and arr.shape[2] == 3:
        ncomp = 3
    else:
        raise ValueError(f"expected (H,W) or (H,W,3) uint8, got {arr.shape}")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if subsampling not in _JPEG_SAMPLING:
        raise ValueError(f"subsampling must be one of {sorted(_JPEG_SAMPLING)}")
    if progressive and restart_interval:
        raise ValueError("restart_interval is baseline-only in this encoder")

    if ncomp == 1:
        planes = [arr.astype(np.float64) - 128.0]
        samp = [(1, 1)]
    else:
        r = arr[..., 0].astype(np.float64)
        g = arr[..., 1].astype(np.float64)
        b = arr[..., 2].astype(np.float64)
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b - 128.0,
            -0.168735892 * r - 0.331264108 * g + 0.5 * b,
            0.5 * r - 0.418687589 * g - 0.081312411 * b,
        ]
        samp = list(_JPEG_SAMPLING[subsampling])
    qt = [_jpeg_qtable(_JPEG_QL, quality)]
    if ncomp == 3:
        qt.append(_jpeg_qtable(_JPEG_QC, quality))
    geo = _jpeg_geometry(h, w, samp)
    gc = geo["comps"]

    # downsample chroma by box mean, then pad each component plane to
    # its MCU-aligned block grid by edge replication (keeps block
    # boundaries smooth, minimizing ringing at the crop edge)
    coef: list[np.ndarray] = []
    for ci in range(ncomp):
        c = gc[ci]
        fy, fx = geo["vmax"] // c["sv"], geo["hmax"] // c["sh"]
        p = planes[ci]
        if fy > 1 or fx > 1:
            ph, pw = c["ch"] * fy, c["cw"] * fx
            p = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
            p = p.reshape(c["ch"], fy, c["cw"], fx).mean(axis=(1, 3))
        p = np.pad(
            p,
            ((0, c["bh"] * 8 - p.shape[0]), (0, c["bw"] * 8 - p.shape[1])),
            mode="edge",
        )
        coef.append(_fdct_quant_blocks(p, qt[min(ci, 1)]))

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for i, q in enumerate(qt):
        out += _seg(0xFFDB, bytes([i]) + bytes(int(v) for v in q[_JPEG_ZZ]))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, (gc[ci]["sh"] << 4) | gc[ci]["sv"], min(ci, 1)])
    out += _seg(0xFFC2 if progressive else 0xFFC0, sof)
    dc_huffs = [(0x00, _DC_L_BITS, _DC_L_VALS)]
    if ncomp == 3:
        dc_huffs.append((0x01, _DC_C_BITS, _DC_C_VALS))
    for tid, bits, vals in dc_huffs:
        out += _seg(0xFFC4, bytes([tid]) + bytes(bits) + bytes(vals))

    dc_tabs = [_huff_encode_table(_DC_L_BITS, _DC_L_VALS)]
    if ncomp == 3:
        dc_tabs.append(_huff_encode_table(_DC_C_BITS, _DC_C_VALS))

    def mcu_blocks(scan_cis: list[int]) -> list[list[tuple[int, int, int]]]:
        """Interleaved MCU partition: per MCU, each scan component
        contributes its sv×sh block tile in raster order."""
        mcus = []
        for my in range(geo["mcuy"]):
            for mx in range(geo["mcux"]):
                blk = []
                for ci in scan_cis:
                    c = gc[ci]
                    for by in range(c["sv"]):
                        for bx in range(c["sh"]):
                            blk.append((ci, my * c["sv"] + by, mx * c["sh"] + bx))
                mcus.append(blk)
        return mcus

    if not progressive:
        ac_tabs = [_huff_encode_table(_AC_L_BITS, _AC_L_VALS)]
        if ncomp == 3:
            ac_tabs.append(_huff_encode_table(_AC_C_BITS, _AC_C_VALS))
        ac_huffs = [(0x10, _AC_L_BITS, _AC_L_VALS)]
        if ncomp == 3:
            ac_huffs.append((0x11, _AC_C_BITS, _AC_C_VALS))
        for tid, bits, vals in ac_huffs:
            out += _seg(0xFFC4, bytes([tid]) + bytes(bits) + bytes(vals))
        if restart_interval:
            out += _seg(0xFFDD, struct.pack(">H", restart_interval))
        out += _sos_segment(
            [(ci + 1, min(ci, 1), min(ci, 1)) for ci in range(ncomp)], 0, 63, 0, 0
        )
        wtr = _BitWriter()
        pred = [0] * ncomp
        for mcu, blocks in enumerate(mcu_blocks(list(range(ncomp)))):
            if restart_interval and mcu and mcu % restart_interval == 0:
                wtr.flush()  # byte-align (1-padded) before the marker
                wtr.buf += bytes(
                    [0xFF, 0xD0 + (mcu // restart_interval - 1) % 8]
                )
                pred = [0] * ncomp
            for ci, by, bx in blocks:
                t = min(ci, 1)
                zz = coef[ci][by, bx]
                _jpeg_put_coeff(wtr, dc_tabs[t], 0, int(zz[0]) - pred[ci])
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
                        code, length = ac_tabs[t][0xF0]  # ZRL
                        wtr.put(code, length)
                        run -= 16
                    _jpeg_put_coeff(wtr, ac_tabs[t], run, v)
                    run = 0
                if last < 63:
                    code, length = ac_tabs[t][0x00]  # EOB
                    wtr.put(code, length)
        wtr.flush()
        out += wtr.buf
        return bytes(out + b"\xff\xd9")

    # --- progressive: the libjpeg "simple progression" scan script ---
    # (scan, kind) with kind ∈ dc_first/dc_refine/ac_first/ac_refine;
    # AC scans are per-component (T.81 requires non-interleaved AC)
    if ncomp == 1:
        script = [
            ("dc_first", None, 0, 0, 0, 1),
            ("ac_first", 0, 1, 5, 0, 2),
            ("ac_first", 0, 6, 63, 0, 2),
            ("ac_refine", 0, 1, 63, 2, 1),
            ("dc_refine", None, 0, 0, 1, 0),
            ("ac_refine", 0, 1, 63, 1, 0),
        ]
    else:
        script = [
            ("dc_first", None, 0, 0, 0, 1),
            ("ac_first", 0, 1, 5, 0, 2),
            ("ac_first", 2, 1, 63, 0, 1),
            ("ac_first", 1, 1, 63, 0, 1),
            ("ac_first", 0, 6, 63, 0, 2),
            ("ac_refine", 0, 1, 63, 2, 1),
            ("dc_refine", None, 0, 0, 1, 0),
            ("ac_refine", 2, 1, 63, 1, 0),
            ("ac_refine", 1, 1, 63, 1, 0),
            ("ac_refine", 0, 1, 63, 1, 0),
        ]
    for kind, ci, ss, se, ah, al in script:
        if kind == "dc_first":
            out += _sos_segment(
                [(k + 1, min(k, 1), 0) for k in range(ncomp)], 0, 0, ah, al
            )
            wtr = _BitWriter()
            pred = [0] * ncomp
            for blocks in mcu_blocks(list(range(ncomp))):
                for cj, by, bx in blocks:
                    v = int(coef[cj][by, bx, 0]) >> al
                    _jpeg_put_coeff(wtr, dc_tabs[min(cj, 1)], 0, v - pred[cj])
                    pred[cj] = v
            wtr.flush()
            out += wtr.buf
        elif kind == "dc_refine":
            # raw-bit scan: no Huffman tables involved
            out += _sos_segment(
                [(k + 1, 0, 0) for k in range(ncomp)], 0, 0, ah, al
            )
            wtr = _BitWriter()
            for blocks in mcu_blocks(list(range(ncomp))):
                for cj, by, bx in blocks:
                    wtr.put((int(coef[cj][by, bx, 0]) >> al) & 1, 1)
            wtr.flush()
            out += wtr.buf
        else:
            c = gc[ci]
            blocks = [
                coef[ci][by, bx]
                for by in range(c["nbh"])
                for bx in range(c["nbw"])
            ]
            emit = _emit_ac_first if kind == "ac_first" else _emit_ac_refine
            args = (ss, se, al) if kind == "ac_first" else (ss, se, ah, al)
            counter = _HuffEmitter()
            emit(counter, blocks, *args)
            bits, vals = _huff_build(counter.freq)
            # AC table slot 0, overwritten before every AC scan — legal
            # per T.81 and exercises the decoder's between-scan DHT path
            out += _seg(0xFFC4, bytes([0x10]) + bytes(bits) + bytes(vals))
            out += _sos_segment([(ci + 1, 0, 0)], ss, se, ah, al)
            wtr = _BitWriter()
            emit(_HuffEmitter(wtr, _huff_encode_table(bits, vals)), blocks, *args)
            wtr.flush()
            out += wtr.buf
    return bytes(out + b"\xff\xd9")


class _BitReader:
    """MSB-first bit reader over entropy-coded data: undoes 0xFF00
    stuffing, byte-aligns at RSTn markers, stops at any other marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy data")
            byte = self.data[self.pos]
            if byte == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 2
                else:
                    raise ValueError("hit marker inside entropy data")
            else:
                self.pos += 1
            self._acc = byte
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> None:
        """Byte-align and consume one RSTn marker (T.81 E.1.4)."""
        self._n = 0
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or not 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected RST marker at restart interval")
        self.pos += 2


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → symbol map for canonical JPEG Huffman codes."""
    out: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_read(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 17:
        code = (code << 1) | r.bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, size: int) -> int:
    """Sign-extend a magnitude-bits value (T.81 F.2.2.1 EXTEND)."""
    return v if size == 0 or v >= (1 << (size - 1)) else v - (1 << size) + 1


@_typed_decode_errors
def jpeg_info(content: bytes) -> dict:
    """Frame metadata from the SOF marker without entropy decoding."""
    hdr = _jpeg_parse_headers(content, info_only=True)
    return {
        "width": hdr["width"],
        "height": hdr["height"],
        "components": hdr["ncomp"],
        "bit_depth": hdr["precision"],
        "progressive": hdr["progressive"],
        "sampling": [(c["h"], c["v"]) for c in hdr["comps"]],
    }


def _jpeg_walk(content: bytes, pos: int, st: dict, info_only: bool = False) -> str:
    """Walk marker segments from ``pos``, updating DQT/DHT/DRI/SOF/SOS
    state in ``st``; returns 'sos' (with st['scan']/st['data_pos'] set),
    'eoi', or 'sof' (info_only). Tables may legally appear between
    scans (progressive encoders emit per-scan DHT), so this runs both
    before the first scan and between scans."""
    while pos + 2 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
        # marker — real encoders emit them; skip, don't misparse
        while pos + 2 < len(content) and content[pos + 1] == 0xFF:
            pos += 1
        marker = content[pos + 1]
        if marker == 0xD9:  # EOI
            st["pos"] = pos + 2
            return "eoi"
        # standalone markers carry NO length field: TEM (0x01) and a
        # stray RSTn outside entropy data — skip them instead of
        # misreading their next two bytes as a segment length
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > len(content):
            break
        (length,) = struct.unpack(">H", content[pos + 2 : pos + 4])
        body = content[pos + 4 : pos + 2 + length]
        if len(body) != length - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT (may hold several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization tables not supported")
                tab = np.zeros(64, dtype=np.int32)
                tab[_JPEG_ZZ] = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8)
                st["qt"][tq] = tab
                i += 65
        elif marker == 0xC4:  # DHT (may hold several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                st["huff"][(tc, th)] = _huff_decode_table(bits, vals)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            (st["dri"],) = struct.unpack(">H", body[:2])
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            if marker == 0xC2:
                st["progressive"] = True
            elif marker not in (0xC0, 0xC1):
                if not info_only:
                    raise ValueError(
                        "only baseline/progressive Huffman JPEG supported "
                        f"(SOF marker 0x{marker:02X})"
                    )
            prec, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            st.update(precision=prec, height=h, width=w, ncomp=ncomp, comps=[])
            for ci in range(ncomp):
                cid, hv, tq = body[6 + ci * 3 : 9 + ci * 3]
                st["comps"].append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            if info_only:
                return "sof"
        elif marker == 0xDA:  # SOS
            ns = body[0]
            if len(body) != 4 + ns * 2:
                raise ValueError("malformed SOS header")
            st["scan"] = [(body[1 + i * 2], body[2 + i * 2]) for i in range(ns)]
            st["ss"], st["se"] = body[1 + ns * 2], body[2 + ns * 2]
            ahal = body[3 + ns * 2]
            st["ah"], st["al"] = ahal >> 4, ahal & 0x0F
            st["data_pos"] = pos + 2 + length
            return "sos"
        pos += 2 + length
    raise ValueError("JPEG missing SOS/SOF")


def _jpeg_parse_headers(content: bytes, info_only: bool = False) -> dict:
    """Parse from SOI to the first SOS (or SOF for ``info_only``)."""
    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    st: dict = {"dri": 0, "progressive": False, "qt": {}, "huff": {}}
    _jpeg_walk(content, 2, st, info_only=info_only)
    if "width" not in st:
        raise ValueError("JPEG missing SOF before SOS")
    return st


def _jpeg_decode_scan(
    content: bytes, st: dict, geo: dict, coef: list[np.ndarray]
) -> int:
    """Entropy-decode one scan into the per-component zigzag
    coefficient arrays; returns the stream position after the scan's
    entropy data. Handles sequential (full-band) scans and all four
    progressive scan kinds (T.81 G.1.2 / F.2.2), interleaved or not,
    with restart intervals resetting DC predictors and the EOB run."""
    comp_by_id = {c["id"]: i for i, c in enumerate(st["comps"])}
    scomps: list[tuple[int, int, int]] = []
    for cid, tdta in st["scan"]:
        if cid not in comp_by_id:
            raise ValueError(f"SOS references unknown component id {cid}")
        scomps.append((comp_by_id[cid], tdta >> 4, tdta & 0x0F))
    ss, se, ah, al = st["ss"], st["se"], st["ah"], st["al"]
    progressive = st["progressive"]
    if progressive:
        if ss == 0 and se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        if ss > 0 and len(scomps) != 1:
            raise ValueError("progressive AC scans must be non-interleaved")
        if not (ss <= se <= 63):
            raise ValueError(f"bad spectral band {ss}..{se}")
    elif (ss, se, ah, al) != (0, 63, 0, 0):
        raise ValueError("sequential scan must cover the full band at full precision")

    gc = geo["comps"]
    # block schedule: interleaved scans tile the MCU grid; a
    # single-component scan walks that component's own block grid with
    # MCU = one block (T.81 A.2)
    if len(scomps) > 1:
        mcus = []
        for my in range(geo["mcuy"]):
            for mx in range(geo["mcux"]):
                blk = []
                for ci, td, ta in scomps:
                    c = gc[ci]
                    for by in range(c["sv"]):
                        for bx in range(c["sh"]):
                            blk.append((ci, td, ta, my * c["sv"] + by, mx * c["sh"] + bx))
                mcus.append(blk)
    else:
        ci, td, ta = scomps[0]
        c = gc[ci]
        mcus = [
            [(ci, td, ta, by, bx)]
            for by in range(c["nbh"])
            for bx in range(c["nbw"])
        ]

    rdr = _BitReader(content, st["data_pos"])
    pred = [0] * len(st["comps"])
    eobrun = 0
    p1, m1 = 1 << al, -1 << al
    for mcu, blocks in enumerate(mcus):
        if st["dri"] and mcu and mcu % st["dri"] == 0:
            rdr.restart()
            pred = [0] * len(st["comps"])
            eobrun = 0
        for ci, td, ta, by, bx in blocks:
            zz = coef[ci][by, bx]
            dc_tab = st["huff"].get((0, td))
            ac_tab = st["huff"].get((1, ta))
            if ss == 0 and ah == 0:
                # DC first (or start of a sequential block)
                if dc_tab is None:
                    raise ValueError("JPEG scan references a missing DC table")
                size = _huff_read(rdr, dc_tab)
                if size > 15:  # corrupt DHT: DC category is ≤ 11 by spec
                    raise ValueError(f"invalid DC size category {size}")
                pred[ci] += _extend(rdr.bits(size), size)
                zz[0] = pred[ci] << al
            elif ss == 0:
                # DC refinement: one raw magnitude bit per block
                if rdr.bit():
                    zz[0] |= p1
            if se == 0:
                continue
            if ac_tab is None:
                raise ValueError("JPEG scan references a missing AC table")
            k = max(ss, 1)
            if ah == 0:
                # sequential AC / progressive AC first (F.2.2.2 / G.1.2.2)
                if eobrun > 0:
                    eobrun -= 1
                    continue
                while k <= se:
                    sym = _huff_read(rdr, ac_tab)
                    run, size = sym >> 4, sym & 0x0F
                    if size == 0:
                        if run == 15:
                            k += 16  # ZRL
                            continue
                        # EOBn: progressive-only for n>0; plain EOB else
                        if run and not progressive:
                            raise ValueError(f"invalid AC symbol 0x{sym:02X}")
                        eobrun = (1 << run) - 1
                        if run:
                            eobrun += rdr.bits(run)
                        break
                    k += run
                    if k > se:
                        raise ValueError("AC run past end of band")
                    zz[k] = _extend(rdr.bits(size), size) << al
                    k += 1
            else:
                # AC refinement (G.1.2.3): correction bits for already-
                # nonzero positions, ±1<<Al for newly-significant ones
                if eobrun == 0:
                    while k <= se:
                        sym = _huff_read(rdr, ac_tab)
                        run, size = sym >> 4, sym & 0x0F
                        newval = 0
                        if size:
                            if size != 1:
                                raise ValueError(
                                    f"invalid refinement AC symbol 0x{sym:02X}"
                                )
                            newval = p1 if rdr.bit() else m1
                        elif run != 15:
                            eobrun = 1 << run
                            if run:
                                eobrun += rdr.bits(run)
                            break
                        while k <= se:
                            if zz[k] != 0:
                                if rdr.bit() and not (zz[k] & p1):
                                    zz[k] += p1 if zz[k] >= 0 else m1
                            else:
                                run -= 1
                                if run < 0:
                                    break
                            k += 1
                        if newval:
                            if k > se:
                                raise ValueError("AC refinement run past band")
                            zz[k] = newval
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if zz[k] != 0 and rdr.bit() and not (zz[k] & p1):
                            zz[k] += p1 if zz[k] >= 0 else m1
                        k += 1
                    eobrun -= 1
    return rdr.pos


@_typed_decode_errors
def decode_jpeg(content: bytes) -> np.ndarray:
    """Decode a baseline sequential OR progressive (SOF2) JPEG to
    uint8 pixels: (H, W) for grayscale, (H, W, 3) RGB for 3-component
    YCbCr. Supports chroma subsampling (any h/v factors in 1..4 that
    divide the frame maxima — 4:2:0, 4:2:2, 4:1:1, …) with
    sample-replication upsampling, restart intervals, multi-scan
    streams, and per-scan DHT/DQT updates. Arithmetic-coded, 12-bit,
    lossless, and fractional-ratio streams raise ValueError.
    Deterministic: fixed-order float64 IDCT."""
    st = _jpeg_parse_headers(content)
    if st["precision"] != 8:
        raise ValueError(f"only 8-bit JPEG supported (precision {st['precision']})")
    ncomp = st["ncomp"]
    if ncomp not in (1, 3):
        raise ValueError(f"unsupported JPEG component count {ncomp}")
    h, w = st["height"], st["width"]
    if w * h > _MAX_JPEG_PIXELS:
        raise ValueError(f"image too large to decode: {w}x{h}")
    geo = _jpeg_geometry(h, w, [(c["h"], c["v"]) for c in st["comps"]])
    coef = [
        np.zeros((c["bh"], c["bw"], 64), dtype=np.int64) for c in geo["comps"]
    ]
    # scan loop: decode entropy data, then resume the marker walk
    # (which may update DHT/DQT/DRI) until the next SOS or EOI
    scans = 0
    while True:
        scans += 1
        if scans > 64:
            raise ValueError("too many JPEG scans")
        pos = _jpeg_decode_scan(content, st, geo, coef)
        # a well-formed scan ends at most one padding byte (plus its
        # 0x00 stuffing if the pad is 0xFF) before the next marker —
        # more unconsumed bytes means the entropy data didn't match
        # the declared geometry (e.g. a tampered sampling byte)
        skipped = 0
        while pos + 1 < len(content) and (
            content[pos] != 0xFF or content[pos + 1] == 0x00
        ):
            pos += 1
            skipped += 1
            if skipped > 2:
                raise ValueError("unconsumed entropy data after JPEG scan")
        if _jpeg_walk(content, pos, st) == "eoi":
            break

    planes = []
    for ci, c in enumerate(geo["comps"]):
        q = st["qt"].get(st["comps"][ci]["tq"])
        if q is None:
            raise ValueError("JPEG frame references a missing DQT table")
        plane = _idct_plane(coef[ci], q)[: c["ch"], : c["cw"]] + 128.0
        fy, fx = geo["vmax"] // c["sv"], geo["hmax"] // c["sh"]
        if fy > 1:
            plane = np.repeat(plane, fy, axis=0)
        if fx > 1:
            plane = np.repeat(plane, fx, axis=1)
        planes.append(plane[:h, :w])
    if ncomp == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136286 * cb - 0.714136286 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def decode_image(content: bytes) -> np.ndarray:
    """Decoder-contract form (bytes → (H, W[, C]) floats in [0, 1]);
    dispatches PNG vs JPEG vs GIF (first frame) vs WebP vs BMP vs
    TIFF vs netpbm on the container magic."""
    if content[:8] == _PNG_SIG:
        px = decode_png(content)
        return px.astype(np.float64) / (65535.0 if px.dtype == np.uint16 else 255.0)
    if content[:2] == b"\xff\xd8":
        return decode_jpeg(content).astype(np.float64) / 255.0
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(content)[0].astype(np.float64) / 255.0
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        return decode_webp(content).astype(np.float64) / 255.0
    if content[:2] == b"BM":
        return decode_bmp(content).astype(np.float64) / 255.0
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff(content).astype(np.float64) / 255.0
    return decode_pgm(content).astype(np.float64) / 255.0


def _pack_bits64(bits) -> int:
    """Pack 64 binary values (bit k = index k) into a SIGNED int64 —
    the layout Spark/DuckDB BIGINT xor + bit_count operate on."""
    val = 0
    for k in range(64):
        if bits[k]:
            val |= 1 << k
    return val - (1 << 64) if val >= 1 << 63 else val


def audio_fingerprint64(pcm: np.ndarray | list) -> int:
    """64-bit audio fingerprint over integer PCM: split the (first
    channel of the) waveform into 65 equal windows (the tail
    past chunks·⌊n/chunks⌋ is dropped), take each window's integer
    energy Σ|s|, and set bit k when energy[k+1] > energy[k] — the
    energy-envelope analog of the image dHash (Haitsma-Kalker-style
    sign-of-difference coding, reduced to exact integer ops so any
    oracle can recompute it). Near-identical recordings differ in few
    bits; pairs via operators/dedup.py hamming_pairs. Returns a SIGNED
    int64 like :func:`dhash64`."""
    chunks = 65  # 64 difference bits need exactly 65 windows
    arr = np.asarray(pcm, dtype=np.int64)
    if arr.ndim == 2:
        arr = arr[:, 0]
    elif arr.ndim != 1:
        raise ValueError(f"expected (n,) or (n, channels) PCM, got {arr.shape}")
    w = len(arr) // chunks
    if w < 1:
        raise ValueError(f"waveform too short for {chunks} windows: {len(arr)}")
    e = np.abs(arr[: chunks * w]).reshape(chunks, w).sum(axis=1)
    return _pack_bits64((e[1:] > e[:-1]).astype(np.int64))


def dhash64(pixels: np.ndarray | list) -> int:
    """64-bit difference hash (perceptual image fingerprint): integer
    grayscale ((r+g+b)//3), average-pool to an 8-row × 9-col grid
    (floor mean; input dims must be exact multiples — this engine's
    pipelines synthesize/resize to the grid, keeping the hash an exact
    integer function any oracle can recompute), bit r·8+c set when
    grid[r, c+1] > grid[r, c]. Near-identical images differ in few
    bits, so Hamming ≤ t over this hash is image near-dup detection —
    pairs via operators/dedup.py hamming_pairs. Returns a SIGNED int64
    (bit 63 = sign) to match Spark/DuckDB BIGINT xor/bit_count
    semantics."""
    arr = np.asarray(pixels)
    if arr.ndim == 3 and arr.shape[2] == 3:
        g = (
            arr[..., 0].astype(np.int64)
            + arr[..., 1].astype(np.int64)
            + arr[..., 2].astype(np.int64)
        ) // 3
    elif arr.ndim == 2:
        g = arr.astype(np.int64)
    else:
        raise ValueError(f"expected (H,W) or (H,W,3), got {arr.shape}")
    h, w = g.shape
    if h % 8 or w % 9:
        raise ValueError(f"dhash64 needs H%8==0 and W%9==0, got {h}x{w}")
    bh, bw = h // 8, w // 9
    grid = g.reshape(8, bh, 9, bw).sum(axis=(1, 3)) // (bh * bw)
    return _pack_bits64((grid[:, 1:] > grid[:, :-1]).ravel())  # row-major (8, 8)


# ------------------------------------------------------------------ MP3
#
# Header-only MP3 support (ISO/IEC 11172-3 frame headers + the ID3v2
# envelope): the probe a curation pipeline needs to TRIAGE mp3 files —
# version/layer/bitrate/samplerate/channels/duration from the frame
# walk — without an entropy decoder. Full audio decode stays behind
# register_external_codec('mp3'). mp3_silence_bytes synthesizes
# structurally valid Layer III frames with zeroed side-info/main data
# (a legal silent stream), so the walk is testable end-to-end.

_MP3_BITRATES = {  # kbps, index 1..14; (version_group, layer)
    (1, 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (2, 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (2, 3): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}  # header version bits → rates


def _mp3_frame_header(b: bytes, pos: int):
    """Parse one MPEG audio frame header at ``pos``; returns (frame_len,
    sample_rate, bitrate_kbps, channels, samples_per_frame, version,
    layer) or raises ValueError."""
    if pos + 4 > len(b):
        raise ValueError("truncated MP3 frame header")
    h = struct.unpack(">I", b[pos : pos + 4])[0]
    if (h >> 21) & 0x7FF != 0x7FF:
        raise ValueError(f"bad MP3 frame sync at {pos}")
    vbits = (h >> 19) & 3  # 0=2.5, 2=MPEG-2, 3=MPEG-1 (1 reserved)
    layer = 4 - ((h >> 17) & 3)  # bits 01→III(3), 10→II(2), 11→I(1)
    if vbits == 1 or (h >> 17) & 3 == 0:
        raise ValueError("reserved MP3 version/layer")
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        raise ValueError("free-format/reserved MP3 bitrate or samplerate")
    vgroup = 1 if vbits == 3 else 2
    bitrate = _MP3_BITRATES[(vgroup, layer)][br_idx - 1]
    rate = _MP3_RATES[vbits][sr_idx]
    pad = (h >> 9) & 1
    mono = ((h >> 6) & 3) == 3
    if layer == 1:
        flen = (12 * bitrate * 1000 // rate + pad) * 4
        spf = 384
    else:
        spf = 1152 if (layer == 2 or vgroup == 1) else 576
        flen = spf // 8 * bitrate * 1000 // rate + pad
    return flen, rate, bitrate, 1 if mono else 2, spf, vgroup, layer


def mp3_info(content: bytes) -> dict:
    """Header-only MP3 probe: skip an ID3v2 envelope, walk every MPEG
    audio frame (version/layer/bitrate/samplerate tables from ISO/IEC
    11172-3), and report the stream's parameters + frame count +
    duration. No audio is decoded — decode requires an external
    decoder (:func:`register_external_codec`, key 'mp3'). Corrupt
    framing raises typed ValueError."""
    pos = 0
    if content[:3] == b"ID3":
        if len(content) < 10:
            raise ValueError("truncated ID3v2 header")
        sz = 0
        for byte in content[6:10]:
            if byte & 0x80:
                raise ValueError("bad ID3v2 syncsafe size")
            sz = (sz << 7) | byte
        pos = 10 + sz + (10 if content[5] & 0x10 else 0)  # + footer
    first = None
    n_frames = 0
    total_samples = 0
    while pos + 4 <= len(content):
        flen, rate, kbps, nch, spf, vgroup, layer = _mp3_frame_header(
            content, pos
        )
        if first is None:
            first = (rate, kbps, nch, vgroup, layer)
        n_frames += 1
        total_samples += spf
        if pos + flen > len(content):
            raise ValueError("MP3 frame extends past stream end")
        pos += flen
    if first is None:
        raise ValueError("MP3 stream has no frames")
    rate, kbps, nch, vgroup, layer = first
    return {
        "sample_rate": rate,
        "bitrate_kbps": kbps,
        "channels": nch,
        "n_frames": n_frames,
        "duration_ms": total_samples * 1000 // rate,
        "mpeg_version": vgroup,
        "layer": layer,
    }


def mp3_silence_bytes(
    n_frames: int,
    sample_rate: int = 44100,
    bitrate_kbps: int = 128,
    channels: int = 1,
    id3: bytes | None = None,
) -> bytes:
    """Synthesize a structurally valid MPEG-1 Layer III stream of
    ``n_frames`` silent frames (zeroed side info + main data decode to
    silence under the spec), optionally wrapped in a minimal ID3v2
    envelope carrying ``id3`` as a raw tag body. Deterministic; the
    framing round-trips :func:`mp3_info` exactly."""
    rates = {44100: 0, 48000: 1, 32000: 2}
    if sample_rate not in rates:
        raise ValueError(f"MPEG-1 sample_rate must be one of {list(rates)}")
    table = _MP3_BITRATES[(1, 3)]
    if bitrate_kbps not in table:
        raise ValueError(f"bitrate_kbps must be one of {table}")
    if channels not in (1, 2):
        raise ValueError("channels must be 1 or 2")
    if n_frames < 1:
        raise ValueError("n_frames must be >= 1")
    br_idx = table.index(bitrate_kbps) + 1
    h = (
        (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)  # MPEG-1 L3 no-CRC
        | (br_idx << 12) | (rates[sample_rate] << 10)
        | ((3 if channels == 1 else 0) << 6)
    )
    flen = 144 * bitrate_kbps * 1000 // sample_rate
    frame = struct.pack(">I", h) + b"\x00" * (flen - 4)
    out = bytearray()
    if id3 is not None:
        sz = len(id3)
        if sz >= 1 << 28:
            raise ValueError("ID3 body too large")
        syncsafe = bytes(
            (sz >> s) & 0x7F for s in (21, 14, 7, 0)
        )
        out += b"ID3\x04\x00\x00" + syncsafe + id3
    out += frame * n_frames
    return bytes(out)


# ------------------------------------------------- external codec registry
#
# The engine implements every LOSSLESS codec from scratch (PNG, GIF,
# BMP, netpbm, TIFF, VP8L WebP, WAV, FLAC, AVI-DIB) plus baseline/
# progressive JPEG and motion-JPEG tracks. Entropy-coded DCT video and
# audio (H.264-class MP4 tracks, lossy VP8 WebP, MP3) are deliberately
# out of from-scratch scope — this registry is the FORMAL extension
# point a real deployment plugs ffmpeg/PIL-class decoders into without
# touching engine code. Unregistered codecs keep raising typed
# ValueError so curation pipelines filter failures by type.

_EXTERNAL_CODECS: dict = {}


def register_external_codec(codec: str, fn) -> None:
    """Plug an out-of-engine decoder for a codec this engine does not
    implement. Contract, per codec key:

    - MP4 sample-entry codecs ``'avc1'/'hvc1'/'hev1'/'vp09'/'av01'``:
      ``fn(samples: list[bytes], width: int, height: int)`` →
      ``(N, H, W, 3)`` uint8 frames, one per sample, dims matching the
      sample entry (mismatches raise, same as the in-repo MJPEG path).
    - lossy WebP ``'vp8'``: ``fn(vp8_chunk: bytes)`` → ``(H, W, 3)``
      or ``(H, W, 4)`` uint8 pixels.
    - ``'mp3'``: ``fn(stream: bytes)`` → ``(n, channels)`` float64 in
      [-1, 1) (the decoder normalizes its own bit depth).

    ``decode_mp4`` / ``decode_webp`` / ``decode_audio`` consult the
    registry BEFORE raising their typed rejects; ``media_info`` stays
    header-only (it already reports foreign codec tags without
    decoding). Registered callables run inside the same mapInPandas
    Arrow batches as the in-repo codecs — no plan shape changes."""
    if not callable(fn):
        raise ValueError("external codec decoder must be callable")
    _EXTERNAL_CODECS[str(codec)] = fn


def unregister_external_codec(codec: str) -> None:
    """Remove a registered external decoder (tests / reconfiguration);
    unknown keys are a no-op."""
    _EXTERNAL_CODECS.pop(str(codec), None)


def decode_audio(content: bytes) -> "np.ndarray":
    """Decoder-contract form for audio: mono-mixed float64 in [-1, 1);
    dispatches RIFF/WAVE vs FLAC on the container magic. MP3 streams
    (ID3 tag or frame sync) dispatch to a registered external decoder
    (:func:`register_external_codec`) and raise typed without one."""
    if content[:4] == b"fLaC":
        info = flac_info(content)
        pcm = decode_flac(content)
        scale = float(1 << (info["bits_per_sample"] - 1))
        return pcm.mean(axis=1) / scale
    if content[:3] == b"ID3" or (
        len(content) >= 2
        and content[0] == 0xFF
        and content[1] & 0xE0 == 0xE0
        and content[:4] != b"RIFF"
    ):
        ext = _EXTERNAL_CODECS.get("mp3")
        if ext is None:
            raise ValueError(
                "MP3 requires an external decoder — "
                "register_external_codec('mp3', fn)"
            )
        pcm = np.asarray(ext(bytes(content)), dtype=np.float64)
        if pcm.ndim == 1:
            pcm = pcm[:, None]
        if pcm.ndim != 2 or pcm.shape[0] == 0:
            raise ValueError(
                f"external mp3 decoder returned bad shape {pcm.shape}"
            )
        return pcm.mean(axis=1)
    return decode_wav(content)


def decode_video(content: bytes) -> "np.ndarray":
    """Decoder-contract form for video: (N, H, W, 3) floats in [0, 1];
    dispatches RIFF AVI vs ISO BMFF MP4/MOV on the container magic."""
    if content[:4] == b"RIFF":
        return decode_avi(content).astype(np.float64) / 255.0
    if len(content) >= 12 and content[4:8] == b"ftyp":
        return decode_mp4(content).astype(np.float64) / 255.0
    raise ValueError("unrecognized video container (AVI or MP4 expected)")


def register_media_decoders() -> None:
    """Plug the real codecs into the multimodal operator: 'audio' → 'image' → PNG/JPEG/GIF/WebP/BMP/netpbm by magic;
    'video' → RIFF AVI or ISO BMFF MP4 (motion-JPEG tracks) by magic.
    Entropy-coded video codecs (H.264/HEVC) still require an external
    decoder via register_decoder (documented extension point,
    operators/multimodal.py)."""
    from vearch_spark.operators.multimodal import register_decoder

    register_decoder("audio", decode_audio)
    register_decoder("image", decode_image)
    register_decoder("video", decode_video)
    # codec-level gaps (H.264-class MP4 tracks, lossy VP8, MP3) plug in
    # BENEATH these dispatchers via register_external_codec — the
    # kind-level registration above never needs to change.


# ------------------------------------------------------------------- GIF
#
# GIF87a/89a (CompuServe spec; W3C GIF89a recommendation): logical
# screen descriptor + global/local color tables + LZW-compressed image
# data in 255-byte sub-blocks. Lossless (palette indices round-trip
# exactly), so the same exact-integer oracle discipline as PNG applies.
# The decoder composites animation frames (image descriptors may be
# sub-rectangles; disposal methods none/keep (1), restore-to-
# background (2), and restore-to-previous (3) per the 89a spec;
# reserved 4..7 raise), honors the Graphic Control
# Extension's transparency index, and GIF's own 4-pass row interlace.
# The encoder emits real variable-width LZW (code widths grow 3..12
# bits with the dictionary, CLEAR resets at 4096) so foreign decoders
# read it, and multi-frame streams for the animation/frame-sample
# pipeline path.

_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))  # (row start, step)


def _lzw_compress(indices: "np.ndarray", min_code_size: int) -> bytes:
    """Variable-width LZW (GIF flavor): dictionary of index strings,
    CLEAR emitted first and at dictionary overflow (4096), EOI last.
    Deterministic."""
    clear = 1 << min_code_size
    eoi = clear + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits  # GIF packs codes LSB-first
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[tuple, int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    put(clear, width)
    prefix: tuple = ()
    for v in indices.tolist():
        cand = prefix + (v,)
        if cand in table:
            prefix = cand
            continue
        put(table[prefix], width)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        prefix = (v,)
        if next_code > 4095:
            put(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
    if prefix:
        put(table[prefix], width)
        # the decoder adds one dictionary entry after reading this
        # final code (the encoder has nothing left to add) and bumps
        # its code width if that entry lands on a power-of-two
        # boundary — EOI must be written at the width the decoder
        # will READ it with
        if next_code == (1 << width) and width < 12:
            width += 1
    put(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, min_code_size: int, expect: int) -> "np.ndarray":
    """GIF LZW decode, bounded at ``expect`` output indices (hostile
    streams must not balloon past the declared frame geometry)."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = 0
    nbits = 0
    prev: bytes | None = None
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated GIF LZW stream (no EOI)")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("LZW code before any literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"LZW code {code} out of range")
        out += entry
        if len(out) > expect:
            raise ValueError(
                f"GIF LZW output exceeds frame geometry ({len(out)} > {expect})"
            )
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) != expect:
        raise ValueError(f"GIF frame size mismatch: {len(out)} != {expect}")
    return np.frombuffer(bytes(out), dtype=np.uint8)


def _gif_subblocks(payload: bytes) -> bytes:
    """Wrap a byte stream into ≤255-byte GIF sub-blocks + terminator."""
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def gif_bytes(
    frames: "np.ndarray | list",
    palette: "np.ndarray | list",
    transparent: int | None = None,
    delay_cs: int = 4,
    interlace: bool = False,
) -> bytes:
    """Encode palette-index frames as a real GIF: one (H, W) matrix →
    single-image GIF87a-style stream; a list / (N, H, W) stack →
    animated GIF89a (NETSCAPE2.0 loop extension + per-frame Graphic
    Control Extensions). ``transparent`` marks that palette index
    transparent in every frame's GCE; ``interlace=True`` writes GIF's
    4-pass row interlace. Deterministic (real variable-width LZW)."""
    pal = np.asarray(palette, dtype=np.uint8)
    if pal.ndim != 2 or pal.shape[1] != 3 or not 2 <= pal.shape[0] <= 256:
        raise ValueError(f"palette must be (2..256, 3) uint8, got {pal.shape}")
    stack = np.asarray(frames, dtype=np.uint8)
    if stack.ndim == 2:
        stack = stack[None]
    if stack.ndim != 3:
        raise ValueError(f"expected (H,W) or (N,H,W) indices, got {stack.shape}")
    n, h, w = stack.shape
    # color table size: next power of two ≥ palette, minimum 2
    ct_bits = max(1, int(pal.shape[0] - 1).bit_length())
    ct_size = 1 << ct_bits
    if stack.max(initial=0) >= pal.shape[0]:
        raise ValueError("frame index exceeds palette size")
    if transparent is not None and not 0 <= transparent < pal.shape[0]:
        raise ValueError(f"transparent index {transparent} outside palette")
    min_code = max(2, ct_bits)

    out = bytearray(b"GIF89a" if (n > 1 or transparent is not None) else b"GIF87a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (ct_bits - 1), 0, 0])  # GCT flag+size, bg, aspect
    out += pal.tobytes() + b"\x00\x00\x00" * (ct_size - pal.shape[0])
    if n > 1:
        out += b"\x21\xff\x0bNETSCAPE2.0" + bytes([3, 1, 0, 0, 0])  # loop forever
    for f in range(n):
        if n > 1 or transparent is not None:
            flags = 0
            if n > 1:
                flags |= 2 << 2  # disposal 2: restore to background
            if transparent is not None:
                flags |= 1
            out += b"\x21\xf9\x04" + bytes([flags]) + struct.pack(
                "<H", delay_cs
            ) + bytes([transparent or 0, 0])
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlace else 0])  # no local table
        rows = stack[f]
        if interlace:
            order = [r for start, step in _GIF_INTERLACE for r in range(start, h, step)]
            rows = rows[order]
        out += bytes([min_code])
        out += _gif_subblocks(_lzw_compress(rows.ravel(), min_code))
    out += b"\x3b"  # trailer
    return bytes(out)


@_typed_decode_errors
def gif_info(content: bytes) -> dict:
    """Logical-screen metadata + frame count without LZW decoding."""
    st = _gif_parse(content, info_only=True)
    return {
        "width": st["width"],
        "height": st["height"],
        "n_frames": st["n_frames"],
        "gct_size": st["gct_size"],
        "version": st["version"],
    }


def _gif_parse(content: bytes, info_only: bool = False) -> dict:
    """Walk the GIF block structure; collects frames (descriptor,
    color table, GCE state, packed LZW payload) or just counts them."""
    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (bad signature)")
    w, h = struct.unpack("<HH", content[6:10])
    packed, bg, aspect = content[10], content[11], content[12]
    pos = 13
    gct = None
    gct_size = 0
    if packed & 0x80:
        gct_size = 2 << (packed & 0x07)
        gct = np.frombuffer(
            content[pos : pos + gct_size * 3], dtype=np.uint8
        ).reshape(-1, 3)
        if gct.shape[0] != gct_size:
            raise ValueError("truncated GIF global color table")
        pos += gct_size * 3
    st: dict = {
        "width": w, "height": h, "gct": gct, "gct_size": gct_size,
        "version": content[3:6].decode("ascii"), "frames": [], "n_frames": 0,
    }
    gce: dict | None = None
    while pos < len(content):
        b0 = content[pos]
        if b0 == 0x3B:  # trailer
            return st
        if b0 == 0x21:  # extension
            if pos + 2 > len(content):
                raise ValueError("truncated GIF extension")
            label = content[pos + 1]
            pos += 2
            blocks = bytearray()
            while True:
                if pos >= len(content):
                    raise ValueError("truncated GIF extension sub-blocks")
                ln = content[pos]
                pos += 1
                if ln == 0:
                    break
                blocks += content[pos : pos + ln]
                pos += ln
            if label == 0xF9 and len(blocks) >= 4:  # Graphic Control
                flags = blocks[0]
                gce = {
                    "disposal": (flags >> 2) & 0x07,
                    "transparent": blocks[3] if flags & 1 else None,
                    "delay_cs": struct.unpack("<H", bytes(blocks[1:3]))[0],
                }
            continue
        if b0 == 0x2C:  # image descriptor
            if pos + 10 > len(content):
                raise ValueError("truncated GIF image descriptor")
            left, top, fw, fh = struct.unpack("<HHHH", content[pos + 1 : pos + 9])
            iflags = content[pos + 9]
            pos += 10
            lct = None
            if iflags & 0x80:
                lsize = 2 << (iflags & 0x07)
                lct = np.frombuffer(
                    content[pos : pos + lsize * 3], dtype=np.uint8
                ).reshape(-1, 3)
                if lct.shape[0] != lsize:
                    raise ValueError("truncated GIF local color table")
                pos += lsize * 3
            if pos >= len(content):
                raise ValueError("truncated GIF image data")
            min_code = content[pos]
            pos += 1
            data = bytearray()
            while True:
                if pos >= len(content):
                    raise ValueError("truncated GIF LZW sub-blocks")
                ln = content[pos]
                pos += 1
                if ln == 0:
                    break
                data += content[pos : pos + ln]
                pos += ln
            st["n_frames"] += 1
            if not info_only:
                st["frames"].append(
                    {
                        "left": left, "top": top, "w": fw, "h": fh,
                        "interlace": bool(iflags & 0x40), "lct": lct,
                        "min_code": min_code, "data": bytes(data),
                        "gce": gce,
                    }
                )
            gce = None
            continue
        raise ValueError(f"unknown GIF block 0x{b0:02X} at {pos}")
    raise ValueError("GIF missing trailer")


@_typed_decode_errors
def decode_gif(content: bytes) -> "np.ndarray":
    """Decode a GIF to composited uint8 frames: (N, H, W, 3) RGB, or
    (N, H, W, 4) RGBA when any frame carries a transparency index.
    Frames composite per the 89a disposal model (none/keep draw over
    the previous canvas; restore-to-background clears the frame's
    rect; restore-to-previous reinstates the pre-frame rect; reserved
    methods 4..7 raise) with sub-rectangle placement, local color
    tables, and the
    4-pass row interlace. Lossless: palette indices round-trip
    exactly."""
    st = _gif_parse(content)
    w, h = st["width"], st["height"]
    if w * h > _MAX_DECODE_PIXELS:
        raise ValueError(f"image too large to decode: {w}x{h}")
    if not st["frames"]:
        raise ValueError("GIF contains no image data")
    if w == 0 or h == 0:
        raise ValueError("GIF has zero-size logical screen")
    has_alpha = any(
        f["gce"] and f["gce"]["transparent"] is not None for f in st["frames"]
    )
    ch = 4 if has_alpha else 3
    if len(st["frames"]) * w * h > _MAX_DECODE_PIXELS * 4:
        raise ValueError("animation too large to decode")
    canvas = np.zeros((h, w, ch), dtype=np.uint8)
    out = []
    for f in st["frames"]:
        pal = f["lct"] if f["lct"] is not None else st["gct"]
        if pal is None:
            raise ValueError("GIF frame has no color table")
        left, top, fw, fh = f["left"], f["top"], f["w"], f["h"]
        if fw == 0 or fh == 0 or left + fw > w or top + fh > h:
            raise ValueError("GIF frame rectangle outside logical screen")
        idx = _lzw_decompress(f["data"], f["min_code"], fw * fh)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("GIF index outside color table")
        idx = idx.reshape(fh, fw)
        if f["interlace"]:
            order = [
                r for start, step in _GIF_INTERLACE for r in range(start, fh, step)
            ]
            deinter = np.empty_like(idx)
            deinter[order] = idx
            idx = deinter
        rgb = pal[idx.astype(np.int64)]
        trans = f["gce"]["transparent"] if f["gce"] else None
        disposal = f["gce"]["disposal"] if f["gce"] else 0
        if disposal > 3:  # 4..7 are reserved (89a spec 23.c.iv)
            raise ValueError(f"reserved GIF disposal method {disposal}")
        region = canvas[top : top + fh, left : left + fw]
        # disposal 3 (restore-to-previous): snapshot the rect BEFORE
        # this frame draws; restored after the frame is emitted
        prev_rect = region.copy() if disposal == 3 else None
        if trans is None:
            px = rgb if ch == 3 else np.concatenate(
                [rgb, np.full((fh, fw, 1), 255, np.uint8)], axis=-1
            )
            region[:] = px
        else:
            opaque = idx != trans
            region[opaque, :3] = rgb[opaque]
            region[opaque, 3] = 255
        out.append(canvas.copy())
        if disposal == 2:  # restore to background = clear the rect
            canvas[top : top + fh, left : left + fw] = 0
        elif disposal == 3:  # restore to previous
            canvas[top : top + fh, left : left + fw] = prev_rect
    return np.stack(out)


# ------------------------------------------------------------------- AVI
#
# Microsoft RIFF AVI (public spec: RIFF 'AVI ' → LIST hdrl {avih,
# LIST strl {strh, strf}} → LIST movi {00dc/00db frames} → idx1):
# the real video-container path for the multimodal pipeline. Two
# genuine frame codings are supported — '00dc' MJPEG (each frame is a
# complete JPEG, decoded by this module's own T.81 decoder) and
# '00db' uncompressed DIB (24-bit BGR, bottom-up rows, 4-byte row
# padding — BITMAPINFOHEADER semantics), which is lossless and so
# carries the exact-integer oracle discipline. Chunks pad to even
# sizes per RIFF.


def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return tag + struct.pack("<I", len(body)) + body + pad


def _riff_list(list_type: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + body)


def _dib_pack(frame: np.ndarray) -> bytes:
    """24-bit DIB pixel data: BGR channel order, bottom-up row order,
    rows padded to 4-byte boundaries."""
    h, w = frame.shape[:2]
    bgr = frame[::-1, :, ::-1]  # bottom-up + RGB→BGR
    stride = w * 3
    pad = (-stride) % 4
    if pad == 0:
        return bgr.tobytes()
    out = bytearray()
    flat = bgr.reshape(h, stride)
    for r in range(h):
        out += flat[r].tobytes() + b"\x00" * pad
    return bytes(out)


def _dib_unpack(data: bytes, w: int, h: int) -> np.ndarray:
    stride = w * 3
    padded = stride + ((-stride) % 4)
    if len(data) != padded * h:
        raise ValueError(
            f"DIB frame size mismatch: {len(data)} != {padded}*{h}"
        )
    rows = np.frombuffer(data, dtype=np.uint8).reshape(h, padded)[:, :stride]
    return rows.reshape(h, w, 3)[::-1, :, ::-1].copy()  # top-down + BGR→RGB


def avi_bytes(
    frames: "np.ndarray | list",
    fps: int = 10,
    codec: str = "MJPG",
    quality: int = 90,
) -> bytes:
    """Encode an (N, H, W, 3) uint8 frame stack as a real AVI:
    ``codec='MJPG'`` writes each frame as a complete baseline JPEG
    ('00dc' chunks); ``codec='DIB'`` writes uncompressed 24-bit BGR
    bottom-up frames ('00db') — lossless, the oracle-friendly form.
    Deterministic."""
    stack = np.asarray(frames, dtype=np.uint8)
    if stack.ndim == 3:
        stack = stack[None]
    if stack.ndim != 4 or stack.shape[3] != 3:
        raise ValueError(f"expected (N,H,W,3) uint8 frames, got {stack.shape}")
    if codec not in ("MJPG", "DIB"):
        raise ValueError(f"codec must be MJPG or DIB: {codec!r}")
    n, h, w = stack.shape[:3]
    if n == 0 or h == 0 or w == 0:
        raise ValueError("empty video")
    if codec == "MJPG":
        payloads = [jpeg_bytes(f, quality) for f in stack]
        tag, fourcc = b"00dc", b"MJPG"
    else:
        payloads = [_dib_pack(f) for f in stack]
        tag, fourcc = b"00db", b"\x00\x00\x00\x00"  # BI_RGB
    max_bytes = max(len(p) for p in payloads)

    # main AVI header (avih): microsec/frame, max bytes/sec, pad, flags,
    # total frames, initial frames, streams, buffer, dims, reserved[4]
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // max(fps, 1), max_bytes * fps, 0, 0x10,  # HASINDEX
        n, 0, 1, max_bytes, w, h, 0, 0, 0, 0,
    )
    # video stream header (strh): fccType, fccHandler, flags, prio+lang,
    # initial frames, scale, rate, start, length, buffer, quality,
    # sample size, rcFrame
    strh = b"vids" + fourcc + struct.pack(
        "<8IiI4H", 0, 0, 0, 1, max(fps, 1), 0, n, max_bytes, -1, 0,
        0, 0, w, h,
    )
    # BITMAPINFOHEADER (strf)
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, w, h, 1, 24, fourcc if codec == "MJPG" else b"\x00\x00\x00\x00",
        w * h * 3, 0, 0, 0, 0,
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi_body = b"".join(_riff_chunk(tag, p) for p in payloads)
    movi = _riff_list(b"movi", movi_body)
    # idx1: one entry per frame (chunk id, KEYFRAME flag, offset from
    # movi list-type start, size)
    idx = bytearray()
    off = 4
    for p in payloads:
        idx += tag + struct.pack("<III", 0x10, off, len(p))
        off += 8 + len(p) + (len(p) % 2)
    body = b"AVI " + hdrl + movi + _riff_chunk(b"idx1", bytes(idx))
    return _riff_chunk(b"RIFF", body)


def _avi_walk(content: bytes) -> dict:
    """Parse the RIFF tree: header geometry + the movi frame chunks."""
    if content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not an AVI payload (bad RIFF signature)")
    (total,) = struct.unpack("<I", content[4:8])
    end = min(len(content), 8 + total)
    st: dict = {"frames": [], "codec": None, "width": None, "height": None,
                "fps": None, "n_frames_declared": None}

    def walk(pos: int, stop: int) -> None:
        while pos + 8 <= stop:
            tag = content[pos : pos + 4]
            (size,) = struct.unpack("<I", content[pos + 4 : pos + 8])
            body_start = pos + 8
            body_end = body_start + size
            if body_end > stop:
                raise ValueError(f"truncated AVI chunk {tag!r}")
            if tag == b"LIST":
                walk(body_start + 4, body_end)
            elif tag == b"avih":
                if size < 40:
                    raise ValueError("short avih header")
                vals = struct.unpack("<10I", content[body_start : body_start + 40])
                st["n_frames_declared"] = vals[4]
                st["width"], st["height"] = vals[8], vals[9]
                if vals[0]:
                    st["fps"] = round(1_000_000 / vals[0])
            elif tag == b"strh" and content[body_start : body_start + 4] == b"vids":
                st["codec"] = content[body_start + 4 : body_start + 8].decode(
                    "latin-1"
                ).strip("\x00 ") or "DIB"
            elif tag in (b"00dc", b"00db"):
                st["frames"].append((tag, content[body_start:body_end]))
            pos = body_end + (size % 2)

    walk(12, end)
    return st


@_typed_decode_errors
def avi_info(content: bytes) -> dict:
    """Container metadata without decoding frame payloads."""
    st = _avi_walk(content)
    return {
        "width": st["width"],
        "height": st["height"],
        "n_frames": len(st["frames"]),
        "fps": st["fps"],
        "codec": st["codec"],
    }


@_typed_decode_errors
def decode_avi(content: bytes) -> "np.ndarray":
    """Decode an MJPEG or DIB AVI to (N, H, W, 3) uint8 RGB frames:
    '00dc' chunks decode through this module's own T.81 JPEG decoder
    (each frame is a complete JPEG and must match the container
    geometry), '00db' chunks unpack as 24-bit bottom-up BGR DIBs —
    exact. Typed errors on geometry mismatches and truncation."""
    st = _avi_walk(content)
    w, h = st["width"], st["height"]
    if not st["frames"]:
        raise ValueError("AVI contains no video frames")
    if not w or not h:
        raise ValueError("AVI missing video geometry (avih)")
    if w * h * max(1, len(st["frames"])) > _MAX_DECODE_PIXELS * 4:
        raise ValueError("video too large to decode")
    out = []
    for tag, payload in st["frames"]:
        if tag == b"00dc":
            if payload[:2] != b"\xff\xd8":
                raise ValueError("MJPEG frame is not a JPEG stream")
            frame = decode_jpeg(payload)
            if frame.ndim == 2:
                frame = np.stack([frame] * 3, axis=-1)
        else:
            frame = _dib_unpack(payload, w, h)
        if frame.shape[:2] != (h, w):
            raise ValueError(
                f"frame geometry {frame.shape[:2]} != container {(h, w)}"
            )
        out.append(frame)
    return np.stack(out)


# ------------------------------------------------------------------- BMP
#
# Windows BMP = BITMAPFILEHEADER ('BM', file size, pixel-data offset)
# + BITMAPINFOHEADER + the same 24-bit bottom-up padded DIB pixel
# format the AVI '00db' frames use — decode reuses _dib_unpack, so a
# BMP is exactly "a one-frame DIB video with a file header".


def bmp_bytes(pixels: np.ndarray | list) -> bytes:
    """Encode a (H, W, 3) uint8 RGB array as a real 24-bit BMP."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected (H,W,3) uint8, got {arr.shape}")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    pix = _dib_pack(arr)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 0, 0, 0, 0)
    file_hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 14 + 40)
    return file_hdr + info + pix


@_typed_decode_errors
def decode_bmp(content: bytes) -> np.ndarray:
    """Decode a 24-bit uncompressed BMP to exact (H, W, 3) uint8 RGB.
    Bottom-up and top-down (negative height) row orders both handled;
    other bit depths / compressions raise ValueError."""
    if content[:2] != b"BM":
        raise ValueError("not a BMP payload (bad signature)")
    if len(content) < 54:
        raise ValueError("truncated BMP header")
    (offset,) = struct.unpack("<I", content[10:14])
    hdr_size, w, h = struct.unpack("<Iii", content[14:26])
    planes, bpp = struct.unpack("<HH", content[26:30])
    (compression,) = struct.unpack("<I", content[30:34])
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    if bpp != 24 or compression != 0:
        raise ValueError(
            f"only 24-bit uncompressed BMP supported (bpp={bpp}, comp={compression})"
        )
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0:
        raise ValueError(f"bad BMP geometry {w}x{h}")
    if w * h > _MAX_DECODE_PIXELS:
        raise ValueError(f"image too large to decode: {w}x{h}")
    stride = w * 3 + ((-w * 3) % 4)
    pix = content[offset : offset + stride * h]
    out = _dib_unpack(pix, w, h)
    return out[::-1].copy() if top_down else out


# ------------------------------------------------------------------ WebP
#
# WebP lossless (VP8L) — RIFF 'WEBP' container with a 'VP8L' payload
# (public "WebP Lossless Bitstream Specification" / RFC 9649). From-
# scratch decoder covering the full lossless format: all four
# transforms (predictor with its 14 modes, cross-color, subtract-
# green, color-indexing including sub-byte pixel bundling), the color
# cache, meta prefix-code groups, and LZ77 backward references with
# the 120-entry two-dimensional distance map. The encoder emits real
# VP8L streams (optional subtract-green + color cache + greedy LZ77,
# canonical length-limited prefix codes via package-merge) so foreign
# decoders read them; lossless round-trips pin bit-exactness. Lossy
# 'VP8 ' payloads raise typed ValueError (out of from-scratch scope —
# the failure is clean, per this module's discipline). Reference
# parity axis: the vearch reference ingests only float vectors — this
# codec serves the LLM-pipeline multimodal brief, not vearch parity.

# code-length-code symbol order (spec 6.2.2 "Decoding of code lengths")
_VP8L_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
_VP8L_HASH_MUL = 0x1E35A7BD
_VP8L_MAX_LEN = 4096  # largest value the 24 length prefix codes reach
# prefix-code symbols as 2-byte big-endian strings (alphabets < 2^12)
_VP8L_SYM_BYTES = tuple(s.to_bytes(2, "big") for s in range(1 << 12))


def _vp8l_distance_map() -> tuple:
    """The spec's 120 short-distance codes as (dx, dy) pixel offsets:
    the causal neighborhood {x 1..8, y 0} ∪ {x -7..8, y 1..7} sorted
    by squared distance, then |dx|, positive dx before negative —
    reproducing the spec's table (its first 60 entries cross-checked
    by hand) from the generation rule instead of a transcription."""
    cands = [(x, 0) for x in range(1, 9)] + [
        (x, y) for y in range(1, 8) for x in range(-7, 9)
    ]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], abs(p[0]), p[0] < 0))
    return tuple(cands)


_VP8L_DIST_MAP = _vp8l_distance_map()


class _LSBBitReader:
    """VP8L bit order: bits fill from each byte's LSB upward.

    Buffered (r9 vectorization pass): ``_val`` holds the next ``_n``
    unconsumed real bits LSB-first; ``peek``/``consume`` are the
    table-lookup fast path for prefix decode. ``peek`` zero-pads past
    the end of data (a complete prefix code always resolves), and
    ``consume`` raises typed once padding bits are actually consumed,
    preserving the truncated-stream error surface."""

    __slots__ = ("data", "_len", "_byte", "_val", "_n")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self._len = len(data)
        self._byte = pos
        self._val = 0
        self._n = 0

    def _fill(self, n: int) -> None:
        val, nb, bp = self._val, self._n, self._byte
        data, ln = self.data, self._len
        while nb < n and bp < ln:
            val |= data[bp] << nb
            nb += 8
            bp += 1
        self._val, self._n, self._byte = val, nb, bp

    def bit(self) -> int:
        if self._n == 0:
            self._fill(1)
            if self._n == 0:
                raise ValueError("VP8L bitstream truncated")
        b = self._val & 1
        self._val >>= 1
        self._n -= 1
        return b

    def bits(self, n: int) -> int:
        if self._n < n:
            self._fill(n)
            if self._n < n:
                raise ValueError("VP8L bitstream truncated")
        v = self._val & ((1 << n) - 1)
        self._val >>= n
        self._n -= n
        return v

    def peek(self, n: int) -> int:
        if self._n < n:
            self._fill(n)
        return self._val & ((1 << n) - 1)

    def consume(self, n: int) -> None:
        if self._n < n:
            raise ValueError("VP8L bitstream truncated")
        self._val >>= n
        self._n -= n


_BIT_REV8 = bytes(int(f"{i:08b}"[::-1], 2) for i in range(256))


def _reverse_bits(code: int, length: int) -> int:
    """The low ``length`` (<= 16) bits of ``code``, mirrored."""
    return ((_BIT_REV8[code & 0xFF] << 8) | _BIT_REV8[code >> 8 & 0xFF]) >> (16 - length)


class _LSBBitWriter:
    __slots__ = ("buf", "cur", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.cur = 0
        self.nbits = 0

    def put(self, val: int, n: int) -> None:
        cur = self.cur | ((val & ((1 << n) - 1)) << self.nbits)
        nb = self.nbits + n
        if nb >= 8:
            whole = nb & ~7
            self.buf += (cur & ((1 << whole) - 1)).to_bytes(whole >> 3, "little")
            cur >>= whole
            nb -= whole
        self.cur, self.nbits = cur, nb

    def put_fields(self, fields) -> None:
        """``put(val, n)`` for each ``(val, n)`` in order, each ``val``
        already below ``2**n``: packed into one int per few hundred
        bits, so a long stream costs few ``put`` calls."""
        acc = nb = 0
        for val, n in fields:
            acc |= val << nb
            nb += n
            if nb >= 256:
                self.put(acc, nb)
                acc = nb = 0
        self.put(acc, nb)

    def put_code(self, code: int, length: int) -> None:
        """Prefix codes stream MSB-first (the decoder accumulates
        code = (code << 1) | bit), like DEFLATE."""
        self.put(_reverse_bits(code, length), length)

    def flush(self) -> bytes:
        if self.nbits:
            self.buf.append(self.cur)
            self.cur = 0
            self.nbits = 0
        return bytes(self.buf)


def _vp8l_canonical_decoder(lengths: list) -> tuple:
    """Canonical prefix decoder structure from per-symbol code lengths
    (assignment rule as DEFLATE: codes ordered by (length, symbol)).
    A single-symbol code decodes with zero bits (trivial code, as
    emitted by the 1-symbol 'simple' form). Over-/under-subscribed
    codes raise.

    r9: builds a flat lookup table over the first ``R = min(maxlen,
    11)`` stream bits — ``tab[peek(R)]`` is ``(symbol << 4) | length``
    for codes of length <= R, or -1 for the (rare, probability <
    2^-11) longer codes, which fall back to the bitwise walk. One
    list index replaces up to 15 per-bit method calls per symbol."""
    nz = [(ln, s) for s, ln in enumerate(lengths) if ln]
    if not nz:
        raise ValueError("VP8L prefix code has no symbols")
    if len(nz) == 1:
        return ("single", nz[0][1])
    nz.sort()
    maxlen = nz[-1][0]
    if maxlen > 15:
        raise ValueError("VP8L code length exceeds 15")
    if sum(1 << (15 - ln) for ln, _ in nz) != 1 << 15:
        raise ValueError("VP8L prefix code is not complete")
    count = [0] * 16
    for ln, _ in nz:
        count[ln] += 1
    first = [0] * 16
    offset = [0] * 16
    code = 0
    idx = 0
    for ln in range(1, 16):
        first[ln] = code
        offset[ln] = idx
        code = (code + count[ln]) << 1
        idx += count[ln]
    R = maxlen if maxlen < 11 else 11
    size = 1 << R
    tab = [-1] * size
    for k, (ln, sym) in enumerate(nz):
        if ln > R:
            break
        c = first[ln] + (k - offset[ln])
        p = 0
        for _ in range(ln):  # stream order = code bits reversed
            p = (p << 1) | (c & 1)
            c >>= 1
        e = (sym << 4) | ln
        step = 1 << ln
        tab[p::step] = [e] * (size >> ln)  # C-level strided fill
    return ("lut", tab, R, size - 1, count, first, offset, [s for _, s in nz])


def _vp8l_read_symbol(rdr: _LSBBitReader, tree: tuple) -> int:
    if tree[0] == "single":
        return tree[1]
    _, tab, R, mask, count, first, offset, syms = tree
    # inlined peek/consume — this is the per-symbol hot path
    if rdr._n < R:
        rdr._fill(R)
    e = tab[rdr._val & mask]
    if e >= 0:
        L = e & 15
        if rdr._n < L:
            raise ValueError("VP8L bitstream truncated")
        rdr._val >>= L
        rdr._n -= L
        return e >> 4
    # code longer than R: seed the bitwise walk with the peeked prefix
    v = rdr._val & mask
    rdr.consume(R)
    code = 0
    for _ in range(R):
        code = (code << 1) | (v & 1)
        v >>= 1
    for ln in range(R + 1, 16):
        code = (code << 1) | rdr.bit()
        if count[ln] and code - first[ln] < count[ln]:
            return syms[offset[ln] + code - first[ln]]
    raise ValueError("invalid VP8L prefix code")


def _vp8l_read_code(rdr: _LSBBitReader, alphabet: int) -> tuple:
    """One prefix code: 'simple' (1-2 literal symbols) or 'normal'
    (code lengths themselves prefix-coded, with 16/17/18 repeats and
    the optional max_symbol cutoff)."""
    if rdr.bit():  # simple
        nsym = rdr.bit() + 1
        s0 = rdr.bits(8 if rdr.bit() else 1)
        lengths = [0] * alphabet
        if s0 >= alphabet:
            raise ValueError("VP8L simple-code symbol outside alphabet")
        lengths[s0] = 1
        if nsym == 2:
            s1 = rdr.bits(8)
            if s1 >= alphabet or s1 == s0:
                raise ValueError("VP8L simple-code second symbol invalid")
            lengths[s1] = 1
        return _vp8l_canonical_decoder(lengths)
    ncl = 4 + rdr.bits(4)
    cl_lengths = [0] * 19
    for i in range(ncl):
        cl_lengths[_VP8L_CL_ORDER[i]] = rdr.bits(3)
    cl_tree = _vp8l_canonical_decoder(cl_lengths)
    lengths = [0] * alphabet
    if rdr.bit():
        nbits = 2 + 2 * rdr.bits(3)
        max_symbol = 2 + rdr.bits(nbits)
        if max_symbol > alphabet:
            raise ValueError("VP8L max_symbol exceeds alphabet")
    else:
        max_symbol = alphabet
    symbol = 0
    prev = 8
    while symbol < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = _vp8l_read_symbol(rdr, cl_tree)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                prev = cl
        else:
            if cl == 16:
                rep, fill = 3 + rdr.bits(2), prev
            elif cl == 17:
                rep, fill = 3 + rdr.bits(3), 0
            else:
                rep, fill = 11 + rdr.bits(7), 0
            if symbol + rep > alphabet:
                raise ValueError("VP8L code-length repeat overflows alphabet")
            for _ in range(rep):
                lengths[symbol] = fill
                symbol += 1
    return _vp8l_canonical_decoder(lengths)


def _vp8l_prefix_val(rdr: _LSBBitReader, code: int) -> int:
    """LZ77 length/distance prefix decoding (spec 5.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + rdr.bits(extra) + 1


def _vp8l_prefix_sym(v: int) -> tuple:
    """(prefix code, n extra bits, extra value) for value v >= 1 —
    the encoder-side inverse of :func:`_vp8l_prefix_val`."""
    x = v - 1
    if x < 4:
        return x, 0, 0
    hb = x.bit_length() - 1
    extra = hb - 1
    return 2 * hb + ((x >> extra) & 1), extra, x & ((1 << extra) - 1)


def _vp8l_dist(dcode: int, xsize: int) -> int:
    if dcode > 120:
        return dcode - 120
    dx, dy = _VP8L_DIST_MAP[dcode - 1]
    d = dy * xsize + dx
    return d if d >= 1 else 1


def _vp8l_read_group(rdr: _LSBBitReader, cache_bits: int) -> tuple:
    g = _vp8l_read_code(rdr, 256 + 24 + ((1 << cache_bits) if cache_bits else 0))
    r = _vp8l_read_code(rdr, 256)
    b = _vp8l_read_code(rdr, 256)
    a = _vp8l_read_code(rdr, 256)
    d = _vp8l_read_code(rdr, 40)
    return g, r, b, a, d


def _vp8l_decode_pixels(rdr, w, h, trees_for, cache_bits) -> "np.ndarray":
    """The LZ77+prefix-coded ARGB stream shared by the main image and
    every sub-resolution (entropy/transform/palette) image.

    r9 vectorization pass: pixels accumulate in a Python list (scalar
    stores and C-level slice copies both beat numpy element access
    here), LZ77 runs are slice assignments — non-overlapping copies in
    one shot, overlapping ones in dist-sized chunks — and the color
    cache is updated for a whole run in one zip pass. Symbol reads hit
    the LUT fast path in :func:`_vp8l_read_symbol`."""
    n = w * h
    out = [0] * n
    cache = [0] * (1 << cache_bits) if cache_bits else None
    shift = 32 - cache_bits if cache_bits else 0
    read_sym = _vp8l_read_symbol
    pos = 0
    while pos < n:
        trees = trees_for(pos % w, pos // w)
        sym = read_sym(rdr, trees[0])
        if sym < 256:
            red = read_sym(rdr, trees[1])
            blue = read_sym(rdr, trees[2])
            alpha = read_sym(rdr, trees[3])
            px = (alpha << 24) | (red << 16) | (sym << 8) | blue
            out[pos] = px
            if cache is not None:
                cache[(_VP8L_HASH_MUL * px & 0xFFFFFFFF) >> shift] = px
            pos += 1
        elif sym < 280:
            length = _vp8l_prefix_val(rdr, sym - 256)
            dsym = read_sym(rdr, trees[4])
            dist = _vp8l_dist(_vp8l_prefix_val(rdr, dsym), w)
            if dist > pos:
                raise ValueError("VP8L backward reference before stream start")
            end = pos + length
            if end > n:
                raise ValueError("VP8L backward reference past image end")
            if dist >= length:
                out[pos:end] = out[pos - dist:end - dist]
            else:  # overlapping run: copy in dist-sized chunks
                p = pos
                while p < end:
                    m = dist if dist <= end - p else end - p
                    out[p:p + m] = out[p - dist:p - dist + m]
                    p += m
            if cache is not None:
                mul = _VP8L_HASH_MUL
                for px in out[pos:end]:
                    cache[(mul * px & 0xFFFFFFFF) >> shift] = px
            pos = end
        else:
            if cache is None:
                raise ValueError("VP8L cache reference without color cache")
            out[pos] = cache[sym - 280]
            pos += 1
    return np.array(out, dtype=np.uint32)


def _vp8l_entropy_image(rdr: _LSBBitReader, w: int, h: int) -> "np.ndarray":
    """Entropy-coded image (spec 6.2): color-cache info + ONE prefix
    group + data — no meta groups, no transforms. Used for the meta
    prefix image, transform block images, and the palette."""
    cache_bits = rdr.bits(4) if rdr.bit() else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError(f"bad VP8L color-cache size {cache_bits}")
    group = _vp8l_read_group(rdr, cache_bits)
    return _vp8l_decode_pixels(rdr, w, h, lambda x, y: group, cache_bits)


def _vp8l_sub(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _vp8l_avg2(a: int, b: int) -> int:
    """Per-channel (a + b) >> 1 on packed ARGB (spec Average2)."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _vp8l_select(t: int, l: int, tl: int) -> int:
    s = 0
    for sh in (24, 16, 8, 0):
        tc, lc, tlc = (t >> sh) & 0xFF, (l >> sh) & 0xFF, (tl >> sh) & 0xFF
        s += abs(lc - tlc) - abs(tc - tlc)
    return t if s <= 0 else l


def _vp8l_clamp_add_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        out |= (0 if v < 0 else 255 if v > 255 else v) << sh
    return out


def _vp8l_clamp_add_half(l: int, t: int, tl: int) -> int:
    ave = _vp8l_avg2(l, t)
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        d = a - ((tl >> sh) & 0xFF)
        # C truncating division by 2 (toward zero), then clamp
        v = a + (d // 2 if d >= 0 else -((-d) // 2))
        out |= (0 if v < 0 else 255 if v > 255 else v) << sh
    return out


def _vp8l_predictor_inverse(
    data: "np.ndarray", w: int, h: int, bits: int, blocks: "np.ndarray", bw: int
) -> "np.ndarray":
    """Inverse predictor transform (spec 4.1): residual + prediction
    per channel mod 256. Edge rules: (0,0) predicts opaque black, row
    0 predicts L, column 0 predicts T; TR at the last column wraps to
    the current row's first pixel (the causal linear neighbor, as in
    the spec's reference decoder)."""
    out = data.astype(np.uint32)
    add = lambda px, pr: (((px & 0x00FF00FF) + (pr & 0x00FF00FF)) & 0x00FF00FF) | (
        ((px & 0xFF00FF00) + (pr & 0xFF00FF00)) & 0xFF00FF00
    )
    for pos in range(w * h):
        y, x = divmod(pos, w)
        if pos == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = int(out[pos - 1])
        elif x == 0:
            pred = int(out[pos - w])
        else:
            mode = (int(blocks[(y >> bits) * bw + (x >> bits)]) >> 8) & 0xFF
            l = int(out[pos - 1])
            t = int(out[pos - w])
            tl = int(out[pos - w - 1])
            tr = int(out[pos - w + 1])  # x=w-1 wraps to (y, 0): causal
            if mode == 0:
                pred = 0xFF000000
            elif mode == 1:
                pred = l
            elif mode == 2:
                pred = t
            elif mode == 3:
                pred = tr
            elif mode == 4:
                pred = tl
            elif mode == 5:
                pred = _vp8l_avg2(_vp8l_avg2(l, tr), t)
            elif mode == 6:
                pred = _vp8l_avg2(l, tl)
            elif mode == 7:
                pred = _vp8l_avg2(l, t)
            elif mode == 8:
                pred = _vp8l_avg2(tl, t)
            elif mode == 9:
                pred = _vp8l_avg2(t, tr)
            elif mode == 10:
                pred = _vp8l_avg2(_vp8l_avg2(l, tl), _vp8l_avg2(t, tr))
            elif mode == 11:
                pred = _vp8l_select(t, l, tl)
            elif mode == 12:
                pred = _vp8l_clamp_add_full(l, t, tl)
            elif mode == 13:
                pred = _vp8l_clamp_add_half(l, t, tl)
            else:
                raise ValueError(f"invalid VP8L predictor mode {mode}")
        out[pos] = add(int(data[pos]), pred)
    return out


def _vp8l_color_inverse(
    data: "np.ndarray", w: int, h: int, bits: int, blocks: "np.ndarray", bw: int
) -> "np.ndarray":
    """Inverse cross-color transform (spec 4.2), vectorized: per-block
    signed multipliers green_to_red / green_to_blue / red_to_blue with
    the C arithmetic-shift delta ((int8)m * (int8)c) >> 5."""
    idx = (
        (np.arange(w * h) // w >> bits) * bw + ((np.arange(w * h) % w) >> bits)
    )
    m = blocks[idx].astype(np.int64)

    def s8(v):
        return np.where(v >= 128, v - 256, v)

    g2r = s8(m & 0xFF)
    g2b = s8((m >> 8) & 0xFF)
    r2b = s8((m >> 16) & 0xFF)
    d = data.astype(np.int64)
    green = s8((d >> 8) & 0xFF)
    red = ((d >> 16) & 0xFF) + ((g2r * green) >> 5)
    red &= 0xFF
    blue = (d & 0xFF) + ((g2b * green) >> 5) + ((r2b * s8(red)) >> 5)
    blue &= 0xFF
    return ((d & 0xFF00FF00) | (red << 16) | blue).astype(np.uint32)


def _vp8l_decode_spatial(rdr: _LSBBitReader, w: int, h: int) -> "np.ndarray":
    """Spatially-coded image (spec 6.2): transforms, color cache, meta
    prefix groups, data; inverse transforms applied in reverse read
    order (each captured at the width current when it was read — the
    color-indexing transform shrinks the coded width for everything
    after it)."""
    transforms = []
    seen = set()
    cur_w = w
    while rdr.bit():
        ttype = rdr.bits(2)
        if ttype in seen:
            raise ValueError(f"duplicate VP8L transform {ttype}")
        seen.add(ttype)
        if ttype == 2:  # subtract green
            transforms.append(("subgreen",))
        elif ttype in (0, 1):  # predictor / cross-color
            bits = rdr.bits(3) + 2
            bw, bh = _vp8l_sub(cur_w, bits), _vp8l_sub(h, bits)
            blocks = _vp8l_entropy_image(rdr, bw, bh)
            kind = "pred" if ttype == 0 else "color"
            transforms.append((kind, cur_w, bits, blocks, bw))
        else:  # color indexing
            csize = rdr.bits(8) + 1
            raw = _vp8l_entropy_image(rdr, csize, 1)
            # palette entries are component-wise deltas of the previous
            pal = np.zeros(csize, dtype=np.uint32)
            prev = 0
            for i in range(csize):
                px = int(raw[i])
                cur = 0
                for sh in (24, 16, 8, 0):
                    cur |= ((((prev >> sh) & 0xFF) + ((px >> sh) & 0xFF)) & 0xFF) << sh
                pal[i] = cur
                prev = cur
            pbits = 3 if csize <= 2 else 2 if csize <= 4 else 1 if csize <= 16 else 0
            transforms.append(("palette", cur_w, pal, pbits))
            cur_w = _vp8l_sub(cur_w, pbits)
    cache_bits = rdr.bits(4) if rdr.bit() else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError(f"bad VP8L color-cache size {cache_bits}")
    if rdr.bit():  # meta prefix codes
        mbits = rdr.bits(3) + 2
        mw, mh = _vp8l_sub(cur_w, mbits), _vp8l_sub(h, mbits)
        mimg = _vp8l_entropy_image(rdr, mw, mh)
        midx = ((mimg >> 8) & 0xFFFF).astype(np.int64)
        groups = [
            _vp8l_read_group(rdr, cache_bits) for _ in range(int(midx.max()) + 1)
        ]

        def trees_for(x, y):
            return groups[midx[(y >> mbits) * mw + (x >> mbits)]]

    else:
        group = _vp8l_read_group(rdr, cache_bits)

        def trees_for(x, y):
            return group

    data = _vp8l_decode_pixels(rdr, cur_w, h, trees_for, cache_bits)
    for t in reversed(transforms):
        if t[0] == "subgreen":
            d = data.astype(np.int64)
            g = (d >> 8) & 0xFF
            red = (((d >> 16) & 0xFF) + g) & 0xFF
            blue = ((d & 0xFF) + g) & 0xFF
            data = ((d & 0xFF00FF00) | (red << 16) | blue).astype(np.uint32)
        elif t[0] == "pred":
            _, tw, bits, blocks, bw = t
            data = _vp8l_predictor_inverse(data, tw, h, bits, blocks, bw)
        elif t[0] == "color":
            _, tw, bits, blocks, bw = t
            data = _vp8l_color_inverse(data, tw, h, bits, blocks, bw)
        else:  # palette: unbundle sub-byte indices, then index
            _, tw, pal, pbits = t
            packed_w = _vp8l_sub(tw, pbits)
            grid = data.reshape(h, packed_w)
            if pbits:
                ibits = 8 >> pbits
                xs = np.arange(tw)
                g = (grid[:, xs >> pbits] >> 8) & 0xFF
                idx = (g >> ((xs & ((1 << pbits) - 1)) * ibits)) & (
                    (1 << ibits) - 1
                )
            else:
                idx = (grid >> 8) & 0xFF
            # out-of-palette indices resolve to transparent black, as
            # in the spec's expanded color map
            full = np.zeros(max(int(idx.max()) + 1, len(pal)), dtype=np.uint32)
            full[: len(pal)] = pal
            data = full[idx.astype(np.int64)].reshape(-1)
    return data.reshape(h, w)


def _webp_vp8l_payload(content: bytes, allow_vp8: bool = False):
    """First VP8L chunk body; with ``allow_vp8`` returns (tag, body)
    so the caller can dispatch a lossy 'VP8 ' chunk to an external
    decoder instead of rejecting."""
    if content[:4] != b"RIFF" or content[8:12] != b"WEBP":
        raise ValueError("not a WebP payload (missing RIFF/WEBP magic)")
    pos = 12
    while pos + 8 <= len(content):
        tag = content[pos : pos + 4]
        (ln,) = struct.unpack("<I", content[pos + 4 : pos + 8])
        body = content[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            raise ValueError("truncated WebP chunk")
        if tag == b"VP8L":
            return (tag, body) if allow_vp8 else body
        if tag == b"VP8 ":
            if allow_vp8 and "vp8" in _EXTERNAL_CODECS:
                return (tag, body)
            raise ValueError(
                "lossy (VP8) WebP not supported — VP8L lossless only; "
                "plug a VP8 decoder via register_external_codec('vp8')"
            )
        if tag in (b"ANIM", b"ANMF"):
            raise ValueError("animated WebP not supported")
        pos += 8 + ln + (ln & 1)
    raise ValueError("WebP missing a VP8L chunk")


@_typed_decode_errors
def decode_webp(content: bytes) -> "np.ndarray":
    """Decode a lossless WebP (VP8L) to exact uint8 pixels: (H, W, 3)
    RGB, or (H, W, 4) RGBA when the header's alpha flag is set. Full
    lossless format: all four transforms, color cache, meta prefix
    groups, LZ77 with the two-dimensional distance map. Extended
    (VP8X) containers are walked for their VP8L chunk; lossy VP8
    dispatches to a registered external decoder
    (:func:`register_external_codec`, key 'vp8') and raises typed
    without one. Deterministic and bit-exact (the format is
    lossless)."""
    tag, body = _webp_vp8l_payload(content, allow_vp8=True)
    if tag == b"VP8 ":
        out = np.asarray(_EXTERNAL_CODECS["vp8"](body))
        if (
            out.ndim != 3
            or out.shape[2] not in (3, 4)
            or out.dtype != np.uint8
        ):
            raise ValueError(
                f"external 'vp8' decoder returned {out.dtype} "
                f"{out.shape}, expected uint8 (H,W,3|4)"
            )
        return out
    rdr = _LSBBitReader(body)
    if rdr.bits(8) != 0x2F:
        raise ValueError("bad VP8L signature byte")
    w = rdr.bits(14) + 1
    h = rdr.bits(14) + 1
    alpha_used = rdr.bit()
    if rdr.bits(3) != 0:
        raise ValueError("unsupported VP8L version")
    if w * h > _MAX_DECODE_PIXELS:
        raise ValueError(f"image too large to decode: {w}x{h}")
    argb = _vp8l_decode_spatial(rdr, w, h).astype(np.int64)
    r = (argb >> 16) & 0xFF
    g = (argb >> 8) & 0xFF
    b = argb & 0xFF
    chans = [r, g, b]
    if alpha_used:
        chans.append((argb >> 24) & 0xFF)
    return np.stack(chans, axis=-1).astype(np.uint8)


def webp_info(content: bytes) -> dict:
    """Header-only probe: dims + alpha flag from the VP8L header."""
    body = _webp_vp8l_payload(content)
    rdr = _LSBBitReader(body)
    if rdr.bits(8) != 0x2F:
        raise ValueError("bad VP8L signature byte")
    w = rdr.bits(14) + 1
    h = rdr.bits(14) + 1
    return {"width": w, "height": h, "alpha": rdr.bit(), "format": "VP8L"}


def _vp8l_pm_lengths(freqs: dict, limit: int) -> dict:
    """Optimal length-limited prefix code lengths via package-merge
    (Larmore-Hirschberg) — Kraft-complete by construction, which the
    decoder requires. ``freqs`` must have >= 2 symbols.

    Each round sorts the leaves together with the pairs (0, 1), (2, 3),
    … of the last round's sorted items. Items are (weight, symbols), the
    symbols 2-byte big-endian strings: bytes order is symbol-tuple
    order, so ties break as lexicographic tuples would. Rounds differ in
    a tail only: two rounds that agree on their first ``same`` items
    agree on their first ``same // 2`` pairs, so the next round pairs
    just the rest (``fresh``, replacing the ``stale`` pairs), every item
    below the least of those keeps its place, and only the items above
    it are sorted again. A round that changes no pair is a fixed
    point."""
    syms = sorted(freqs)
    n = len(syms)
    leaves = sorted(zip(map(freqs.get, syms), map(_VP8L_SYM_BYTES.__getitem__, syms)))
    pm, pairs, same = leaves, [], 0
    for _ in range(limit - 1):
        h = same // 2
        tail = pm[2 * h :]
        fresh = [(a[0] + b[0], a[1] + b[1]) for a, b in zip(tail[::2], tail[1::2])]
        stale = pairs[h:]
        if fresh == stale:  # a fixed point: later rounds change nothing
            break
        q = bisect.bisect_left(pm, min(fresh + stale))  # pm[:q] stays put
        kept = collections.Counter(pm[q:])  # the rest, minus the stale pairs
        kept.subtract(stale)
        nxt = pm[:q] + sorted(list(kept.elements()) + fresh)
        same = q
        while same < len(pm) and same < len(nxt) and pm[same] == nxt[same]:
            same += 1
        pm, pairs = nxt, pairs[:h] + fresh
    chosen = b"".join(ss for _, ss in pm[: 2 * n - 2])
    depth = np.bincount(np.frombuffer(chosen, dtype=">u2"), minlength=syms[-1] + 1)
    return dict(zip(syms, map(depth.tolist().__getitem__, syms)))


def _vp8l_canonical_codes(lengths: dict) -> dict:
    """sym -> (code, length), canonical assignment ordered by
    (length, symbol) — the decoder's mirror."""
    out = {}
    code = 0
    prev = 0
    for ln, s in sorted((ln, s) for s, ln in lengths.items()):
        code <<= ln - prev
        prev = ln
        out[s] = (code, ln)
        code += 1
    return out


def _vp8l_lsb_codes(codes: dict) -> dict:
    """sym -> (code, nbits) with each code bit-reversed once, so the
    body streams it with a plain LSB-first ``put`` (see put_code)."""
    return {s: (_reverse_bits(c, ln), ln) for s, (c, ln) in codes.items()}


def _vp8l_emit_code(wtr: _LSBBitWriter, freqs: dict, alphabet: int) -> dict:
    """Write one prefix-code header (simple form when 1-2 symbols fit
    in 8 bits, else the normal form with RLE'd code lengths under a
    code-length code); returns sym -> (code, nbits) for the body."""
    used = sorted(s for s, f in freqs.items() if f > 0)
    if not used:
        used = [0]
    if len(used) == 1 and used[0] <= 255:
        s = used[0]
        wtr.put(1, 1)
        wtr.put(0, 1)  # one symbol
        if s <= 1:
            wtr.put(0, 1)
            wtr.put(s, 1)
        else:
            wtr.put(1, 1)
            wtr.put(s, 8)
        return {s: (0, 0)}  # trivial code: zero bits per occurrence
    if len(used) == 2 and used[1] <= 255:
        s0, s1 = used
        wtr.put(1, 1)
        wtr.put(1, 1)  # two symbols
        if s0 <= 1:
            wtr.put(0, 1)
            wtr.put(s0, 1)
        else:
            wtr.put(1, 1)
            wtr.put(s0, 8)
        wtr.put(s1, 8)
        return {s0: (0, 1), s1: (1, 1)}  # canonical: smaller sym = 0
    wtr.put(0, 1)  # normal form
    if len(used) == 1:  # symbol > 255: pad so the code is complete
        lens = {used[0]: 1, (0 if used[0] != 0 else 1): 1}
    else:
        lens = _vp8l_pm_lengths({s: freqs[s] for s in used}, 15)
    codes = _vp8l_canonical_codes(lens)
    seq = [lens.get(s, 0) for s in range(alphabet)]
    cl_stream: list = []  # (cl symbol, extra value, extra bits)
    for v, group in itertools.groupby(seq):
        run = len(list(group))
        if v == 0:
            r = run
            while r >= 11:
                take = min(r, 138)
                cl_stream.append((18, take - 11, 7))
                r -= take
            while r >= 3:
                take = min(r, 10)
                cl_stream.append((17, take - 3, 3))
                r -= take
            cl_stream += [(0, 0, 0)] * r
        else:
            cl_stream.append((v, 0, 0))  # literal sets prev for 16s
            r = run - 1
            while r >= 3:
                take = min(r, 6)
                cl_stream.append((16, take - 3, 2))
                r -= take
            cl_stream += [(v, 0, 0)] * r
    cl_freq = collections.Counter(s for s, _, _ in cl_stream)
    if len(cl_freq) == 1:
        only = next(iter(cl_freq))
        cl_lens = {only: 1}
        cl_codes = {only: (0, 0)}  # trivial: decoder reads 0 bits
    else:
        cl_lens = _vp8l_pm_lengths(cl_freq, 7)
        cl_codes = _vp8l_canonical_codes(cl_lens)
    ncl = max(
        i + 1 for i, s in enumerate(_VP8L_CL_ORDER) if cl_lens.get(s, 0) > 0
    )
    ncl = max(ncl, 4)
    wtr.put(ncl - 4, 4)
    wtr.put_fields((cl_lens.get(_VP8L_CL_ORDER[i], 0), 3) for i in range(ncl))
    wtr.put(0, 1)  # no max_symbol cutoff: the stream covers the alphabet
    cl_codes = _vp8l_lsb_codes(cl_codes)
    wtr.put_fields(
        (cl_codes[s][0] | (ev << cl_codes[s][1]), cl_codes[s][1] + eb)
        for s, ev, eb in cl_stream
    )
    return codes


def _previous_same(keys: np.ndarray, ks: tuple) -> list:
    """Per k in ``ks``: per position, the k-th last earlier position
    holding an equal key, or -1."""
    order = np.argsort(keys, kind="stable")
    out = []
    for k in ks:
        same = keys[order[k:]] == keys[order[:-k]]
        prev = np.full(len(keys), -1)
        prev[order[k:][same]] = order[:-k][same]
        out.append(prev)
    return out


def _vp8l_tokenize(seq: list, w: int, cache_bits: int, use_lz77: bool) -> list:
    """Greedy LZ77 + color-cache tokenizer over the ARGB sequence:
    run (dist 1), vertical (dist w), and recent-position hash
    candidates; matches >= 3 emit copies, else cache hit or literal.
    Mirrors the decoder's cache-insertion rule exactly (every emitted
    pixel inserts, including copied ones).

    Since every pixel enters the cache and the recent-position lists,
    copied or not, both are functions of the sequence alone: a cache
    hit is "the last pixel in my slot equals me", and the recent
    positions of a pixel are the last 4 earlier positions holding it.
    Both are computed up front, as is which positions have a candidate
    whose three pixels match (the least a copy needs); only those
    positions are walked in Python."""
    n = len(seq)
    px = np.asarray(seq, dtype=np.int64)
    if cache_bits:
        ci = ((px * _VP8L_HASH_MUL) & 0xFFFFFFFF) >> (32 - cache_bits)
        (last,) = _previous_same(ci, (1,))
        hit = (last >= 0) & (px[last] == px)
        simple = [
            ("cache", c) if h else ("lit", p)
            for p, c, h in zip(seq, ci.tolist(), hit.tolist())
        ]
    else:
        simple = [("lit", p) for p in seq]
    if not use_lz77 or n < 4:
        return simple
    # a copy needs three pixels, seen before: ``tri`` numbers the
    # distinct pixel triples, and with none repeated there is no copy
    a, b, c = px[:-2], px[1:-1], px[2:]
    order = np.lexsort((c, b, a))
    step = np.diff(a[order]) != 0
    step |= np.diff(b[order]) != 0
    step |= np.diff(c[order]) != 0
    if step.all():
        return simple
    tri = np.empty(n - 2, dtype=np.int64)
    tri[order] = np.cumsum(np.r_[False, step])
    # candidate sources per position, in trial order: run, vertical,
    # then the recent positions oldest first; -1 = none
    at = np.arange(n - 2)
    srcs = [at - 1, np.where(at >= w, at - w, -1)] + _previous_same(a, (4, 3, 2, 1))
    ok = [(s >= 0) & (tri[s] == tri) for s in srcs]
    starts = np.flatnonzero(np.logical_or.reduce(ok)).tolist()
    srcs = [s.tolist() for s in srcs]
    ok = [o.tolist() for o in ok]
    dmap: dict = {}
    for i, (dx, dy) in enumerate(_VP8L_DIST_MAP):
        d = dy * w + dx
        if d >= 1 and d not in dmap:
            dmap[d] = i + 1
    tokens = []
    pos = 0
    for start in starts:
        if start < pos:  # inside the last copy
            continue
        tokens += simple[pos:start]
        pos = start
        best_len, best_dist = 0, 1
        # the first longest match wins, so a repeated distance is
        # tried once
        for dist in dict.fromkeys(pos - s[pos] for s, o in zip(srcs, ok) if o[pos]):
            if dist + 120 > 1 << 20:
                continue
            end = min(n, pos + _VP8L_MAX_LEN)
            j = pos + 3
            while j < end and seq[j - dist] == seq[j]:
                j += 1
            if j - pos > best_len:
                best_len, best_dist = j - pos, dist
        if best_len >= 3:
            tokens.append(("copy", best_len, dmap.get(best_dist, best_dist + 120)))
            pos += best_len
        else:
            tokens.append(simple[pos])
            pos += 1
    return tokens + simple[pos:]


def webp_bytes(
    pixels: "np.ndarray | list",
    cache_bits: int = 6,
    subtract_green: bool = True,
    use_lz77: bool = True,
) -> bytes:
    """Encode uint8 pixels as a real lossless WebP (RIFF + VP8L):
    (H, W) grayscale (stored as RGB), (H, W, 3) RGB, (H, W, 4) RGBA.
    Optional subtract-green transform, color cache (0 disables,
    1..11 bits), and greedy LZ77 (runs, vertical copies, recent-pixel
    matches through the two-dimensional distance map). Prefix codes
    are canonical package-merge lengths, so foreign decoders read the
    output. Deterministic; lossless round-trip with
    :func:`decode_webp` is bit-exact."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    if arr.ndim != 3 or arr.shape[2] not in (3, 4):
        raise ValueError(f"expected (H,W), (H,W,3) or (H,W,4) uint8, got {arr.shape}")
    h, w = arr.shape[:2]
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise ValueError(f"VP8L dims must be 1..16384, got {w}x{h}")
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError(f"cache_bits must be 0..11, got {cache_bits}")
    alpha_used = arr.shape[2] == 4
    px = arr.astype(np.uint32)
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    a = px[..., 3] if alpha_used else np.full((h, w), 255, dtype=np.uint32)
    if subtract_green:
        r = (r - g) & 0xFF
        b = (b - g) & 0xFF
    argb = ((a << 24) | (r << 16) | (g << 8) | b).ravel()

    wtr = _LSBBitWriter()
    wtr.put(0x2F, 8)
    wtr.put(w - 1, 14)
    wtr.put(h - 1, 14)
    wtr.put(1 if alpha_used else 0, 1)
    wtr.put(0, 3)  # version
    if subtract_green:
        wtr.put(1, 1)
        wtr.put(2, 2)
    wtr.put(0, 1)  # end of transforms
    if cache_bits:
        wtr.put(1, 1)
        wtr.put(cache_bits, 4)
    else:
        wtr.put(0, 1)
    wtr.put(0, 1)  # no meta prefix codes

    tokens = _vp8l_tokenize(argb.tolist(), w, cache_bits, use_lz77)
    # copies as ((length code, extra bits, extra), (distance ...))
    for k, t in enumerate(tokens):
        if t[0] == "copy":
            tokens[k] = ("copy", _vp8l_prefix_sym(t[1]), _vp8l_prefix_sym(t[2]))
    lits = [t[1] for t in tokens if t[0] == "lit"]
    gf = collections.Counter((v >> 8) & 0xFF for v in lits)
    gf.update(280 + t[1] if t[0] == "cache" else 256 + t[1][0]
              for t in tokens if t[0] != "lit")
    rf = collections.Counter((v >> 16) & 0xFF for v in lits)
    bf = collections.Counter(v & 0xFF for v in lits)
    af = collections.Counter(v >> 24 for v in lits)
    df = collections.Counter(t[2][0] for t in tokens if t[0] == "copy")
    gcodes = _vp8l_lsb_codes(_vp8l_emit_code(
        wtr, gf, 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    ))
    rcodes = _vp8l_lsb_codes(_vp8l_emit_code(wtr, rf, 256))
    bcodes = _vp8l_lsb_codes(_vp8l_emit_code(wtr, bf, 256))
    acodes = _vp8l_lsb_codes(_vp8l_emit_code(wtr, af, 256))
    dcodes = _vp8l_lsb_codes(_vp8l_emit_code(wtr, df, 40))
    def fields():
        for t in tokens:
            if t[0] == "lit":
                # the four channel codes of a literal as one field
                v = t[1]
                gc, gl = gcodes[(v >> 8) & 0xFF]
                rc, rl = rcodes[(v >> 16) & 0xFF]
                bc, bl = bcodes[v & 0xFF]
                ac, al = acodes[v >> 24]
                yield (
                    gc | (rc << gl) | (bc << (gl + rl)) | (ac << (gl + rl + bl)),
                    gl + rl + bl + al,
                )
            elif t[0] == "cache":
                yield gcodes[280 + t[1]]
            else:
                (code, eb, ev), (dcode, deb, dev) = t[1], t[2]
                c, ln = gcodes[256 + code]
                yield c | (ev << ln), ln + eb
                c, ln = dcodes[dcode]
                yield c | (dev << ln), ln + deb

    wtr.put_fields(fields())
    body = wtr.flush()
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) % 2:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


# ------------------------------------------------------------------- MP4
#
# ISO BMFF / MP4 / QuickTime MOV demuxer (public ISO/IEC 14496-12
# structure): box walk, moov/trak/mdia/minf/stbl sample tables
# (stsd/stts/stsc/stsz/stco|co64), and per-sample extraction via the
# chunk map. Motion-JPEG sample entries ('jpeg', 'mjpa', 'mjpb'
# without field headers) decode through this module's own T.81
# decoder — the from-scratch-feasible video-in-MP4 path, mirroring
# the AVI/MJPEG choice. Entropy-coded DCT codecs (avc1/hev1/vp09/
# av01) raise typed ValueError: real H.264 is out of from-scratch
# scope and the failure must be clean, not approximate.


def _mp4_boxes(data: bytes, pos: int, end: int):
    """Yield (type, payload_start, payload_end) for the boxes in
    [pos, end) — 64-bit largesize and to-end (size 0) handled."""
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize box")
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(f"bad MP4 box size {size} at {pos}")
        yield typ, pos + hdr, pos + size
        pos += size


def _mp4_child(data: bytes, pos: int, end: int, typ: bytes):
    for t, s, e in _mp4_boxes(data, pos, end):
        if t == typ:
            return s, e
    return None


def _mp4_parse_track(data: bytes, s: int, e: int) -> dict | None:
    """Parse one trak box; returns the sample-table dict for video
    tracks, None for non-video."""
    mdia = _mp4_child(data, s, e, b"mdia")
    if mdia is None:
        return None
    hdlr = _mp4_child(data, *mdia, b"hdlr")
    if hdlr is None or data[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
        return None
    mdhd = _mp4_child(data, *mdia, b"mdhd")
    timescale = duration = 0
    if mdhd is not None:
        ver = data[mdhd[0]]
        if ver == 1:
            timescale, duration = struct.unpack(
                ">IQ", data[mdhd[0] + 20 : mdhd[0] + 32]
            )
        else:
            timescale, duration = struct.unpack(
                ">II", data[mdhd[0] + 12 : mdhd[0] + 20]
            )
    minf = _mp4_child(data, *mdia, b"minf")
    stbl = _mp4_child(data, *minf, b"stbl") if minf else None
    if stbl is None:
        raise ValueError("MP4 video track missing stbl")
    out: dict = {"timescale": timescale, "duration": duration}
    stsd = _mp4_child(data, *stbl, b"stsd")
    if stsd is None:
        raise ValueError("MP4 video track missing stsd")
    (n_desc,) = struct.unpack(">I", data[stsd[0] + 4 : stsd[0] + 8])
    if n_desc < 1:
        raise ValueError("MP4 stsd has no sample descriptions")
    # first VisualSampleEntry: 4CC + dims at fixed offsets
    entry = stsd[0] + 8
    codec = data[entry + 4 : entry + 8].decode("latin-1")
    out["codec"] = codec
    out["width"], out["height"] = struct.unpack(
        ">HH", data[entry + 8 + 24 : entry + 8 + 28]
    )
    stsz = _mp4_child(data, *stbl, b"stsz")
    if stsz is None:
        raise ValueError("MP4 video track missing stsz")
    fixed, cnt = struct.unpack(">II", data[stsz[0] + 4 : stsz[0] + 12])
    if fixed:
        sizes = [fixed] * cnt
    else:
        sizes = list(
            struct.unpack(f">{cnt}I", data[stsz[0] + 12 : stsz[0] + 12 + 4 * cnt])
        )
    out["sizes"] = sizes
    stco = _mp4_child(data, *stbl, b"stco")
    if stco is not None:
        (nc,) = struct.unpack(">I", data[stco[0] + 4 : stco[0] + 8])
        offs = list(
            struct.unpack(f">{nc}I", data[stco[0] + 8 : stco[0] + 8 + 4 * nc])
        )
    else:
        co64 = _mp4_child(data, *stbl, b"co64")
        if co64 is None:
            raise ValueError("MP4 video track missing stco/co64")
        (nc,) = struct.unpack(">I", data[co64[0] + 4 : co64[0] + 8])
        offs = list(
            struct.unpack(f">{nc}Q", data[co64[0] + 8 : co64[0] + 8 + 8 * nc])
        )
    stsc = _mp4_child(data, *stbl, b"stsc")
    if stsc is None:
        raise ValueError("MP4 video track missing stsc")
    (nr,) = struct.unpack(">I", data[stsc[0] + 4 : stsc[0] + 8])
    runs = [
        struct.unpack(">III", data[stsc[0] + 8 + 12 * i : stsc[0] + 20 + 12 * i])
        for i in range(nr)
    ]
    # expand the chunk map into absolute per-sample offsets
    sample_offsets = []
    si = 0
    for ri, (first, per, _desc) in enumerate(runs):
        last = runs[ri + 1][0] - 1 if ri + 1 < nr else len(offs)
        for chunk in range(first, last + 1):
            if chunk - 1 >= len(offs) or si >= cnt:
                break
            off = offs[chunk - 1]
            for _ in range(per):
                if si >= cnt:
                    break
                sample_offsets.append(off)
                off += sizes[si]
                si += 1
    if si < cnt:
        raise ValueError("MP4 chunk map covers fewer samples than stsz")
    out["offsets"] = sample_offsets
    return out


def mp4_info(content: bytes) -> dict:
    """Demux-only probe of an ISO BMFF (MP4/MOV) file: first video
    track's codec 4CC, dims, sample count, duration seconds."""
    if len(content) < 12 or content[4:8] != b"ftyp":
        raise ValueError("not an MP4 payload (missing ftyp)")
    moov = _mp4_child(content, 0, len(content), b"moov")
    if moov is None:
        raise ValueError("MP4 missing moov box")
    for t, s, e in _mp4_boxes(content, *moov):
        if t == b"trak":
            trk = _mp4_parse_track(content, s, e)
            if trk is not None:
                return {
                    "codec": trk["codec"],
                    "width": trk["width"],
                    "height": trk["height"],
                    "n_samples": len(trk["sizes"]),
                    "duration_s": (
                        trk["duration"] / trk["timescale"]
                        if trk["timescale"]
                        else 0.0
                    ),
                }
    raise ValueError("MP4 has no video track")


@_typed_decode_errors
def decode_mp4(content: bytes) -> "np.ndarray":
    """Decode the first video track of an MP4/MOV to (N, H, W, 3)
    uint8 frames. Motion-JPEG sample entries ('jpeg'/'mjpa'/'mjpb')
    decode through the in-repo T.81 decoder; entropy-coded codecs
    (avc1/hvc1/hev1/vp09/av01...) dispatch to a registered external
    decoder (:func:`register_external_codec`) and raise typed without
    one — H.264-class decoding is out of from-scratch scope and must
    fail clean. Frames whose decoded dims disagree with the sample
    entry raise (geometry lies are how corrupt files smuggle
    decompression bombs) — the same gate applies to external-decoder
    output."""
    if len(content) < 12 or content[4:8] != b"ftyp":
        raise ValueError("not an MP4 payload (missing ftyp)")
    moov = _mp4_child(content, 0, len(content), b"moov")
    if moov is None:
        raise ValueError("MP4 missing moov box")
    trk = None
    for t, s, e in _mp4_boxes(content, *moov):
        if t == b"trak":
            trk = _mp4_parse_track(content, s, e)
            if trk is not None:
                break
    if trk is None:
        raise ValueError("MP4 has no video track")
    ext = _EXTERNAL_CODECS.get(trk["codec"])
    if trk["codec"] not in ("jpeg", "mjpa", "mjpb") and ext is None:
        raise ValueError(
            f"MP4 codec '{trk['codec']}' not supported — motion-JPEG "
            "('jpeg'/'mjpa') only; H.264-class streams need an external "
            "decoder (register_external_codec)"
        )
    w, h = trk["width"], trk["height"]
    n = len(trk["sizes"])
    if n == 0:
        raise ValueError("MP4 video track has no samples")
    if n * w * h > _MAX_DECODE_PIXELS * 4:
        raise ValueError("MP4 too large to decode")
    samples = []
    for off, size in zip(trk["offsets"], trk["sizes"]):
        if off + size > len(content):
            raise ValueError("MP4 sample extends past file end")
        samples.append(content[off : off + size])
    if trk["codec"] not in ("jpeg", "mjpa", "mjpb"):
        out = np.asarray(ext(samples, w, h))
        if (
            out.ndim != 4
            or out.shape[0] != n
            or out.shape[1:3] != (h, w)
            or out.shape[3] != 3
            or out.dtype != np.uint8
        ):
            raise ValueError(
                f"external '{trk['codec']}' decoder returned "
                f"{out.dtype} {out.shape}, expected uint8 ({n},{h},{w},3)"
            )
        return out
    frames = []
    for sample in samples:
        px = decode_jpeg(sample)
        if px.ndim == 2:
            px = np.repeat(px[:, :, None], 3, axis=2)
        if px.shape[:2] != (h, w):
            raise ValueError(
                f"MP4 sample dims {px.shape[1]}x{px.shape[0]} disagree "
                f"with sample entry {w}x{h}"
            )
        frames.append(px)
    return np.stack(frames)


def _mp4_box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def mp4_bytes(
    frames: "np.ndarray | list",
    fps: int = 10,
    quality: int = 85,
    frames_per_chunk: int | None = None,
) -> bytes:
    """Encode uint8 frames (N, H, W, 3) as a minimal valid ISO BMFF
    MP4 with one motion-JPEG video track ('jpeg' sample entries, each
    sample a complete baseline JPEG from this module's encoder):
    ftyp + mdat + moov{mvhd, trak{tkhd, mdia{mdhd, hdlr, minf{vmhd,
    dinf, stbl{stsd stts stsc stsz stco}}}}}. Deterministic."""
    stack = np.asarray(frames, dtype=np.uint8)
    if stack.ndim == 3:
        stack = stack[None]
    if stack.ndim != 4 or stack.shape[3] != 3:
        raise ValueError(f"expected (N,H,W,3) uint8 frames, got {stack.shape}")
    n, h, w = stack.shape[:3]
    if n == 0 or h == 0 or w == 0:
        raise ValueError("empty frame stack")
    samples = [jpeg_bytes(stack[i], quality) for i in range(n)]
    sizes = [len(s) for s in samples]
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isommp41")
    mdat_payload = b"".join(samples)
    # absolute sample offsets: mdat payload starts after ftyp + header
    first_off = len(ftyp) + 8
    timescale = 1000
    fps = int(fps)
    if not 1 <= fps <= timescale:
        raise ValueError(f"fps must be in [1, {timescale}], got {fps}")
    delta = timescale // fps
    duration = delta * n

    def full(typ, payload, version=0, flags=0):
        return _mp4_box(typ, bytes([version]) + flags.to_bytes(3, "big") + payload)

    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    mvhd = full(
        b"mvhd",
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">IHH", 0x10000, 0x0100, 0)
        + b"\x00" * 8
        + matrix
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = full(
        b"tkhd",
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + matrix
        + struct.pack(">II", w << 16, h << 16),
        flags=7,
    )
    mdhd = full(
        b"mdhd", struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0)
    )
    hdlr = full(b"hdlr", struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"mjpeg\x00")
    vmhd = full(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0), flags=1)
    dref = full(b"dref", struct.pack(">I", 1) + full(b"url ", b"", flags=1))
    dinf = _mp4_box(b"dinf", dref)
    entry = _mp4_box(
        b"jpeg",
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # pre_defined/reserved
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x480000, 0x480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count
        + b"\x05mjpeg" + b"\x00" * 26  # compressorname (32 bytes)
        + struct.pack(">Hh", 24, -1),
    )
    stsd = full(b"stsd", struct.pack(">I", 1) + entry)
    stts = full(b"stts", struct.pack(">III", 1, n, delta))
    per = int(frames_per_chunk) if frames_per_chunk else n
    if per < 1:
        raise ValueError(f"frames_per_chunk must be >= 1, got {frames_per_chunk}")
    chunk_offsets = []
    runs = []  # (first_chunk, samples_per_chunk)
    off = first_off
    i = 0
    while i < n:
        take = min(per, n - i)
        chunk_offsets.append(off)
        if not runs or runs[-1][1] != take:
            runs.append((len(chunk_offsets), take))
        off += sum(sizes[i : i + take])
        i += take
    stsc = full(
        b"stsc",
        struct.pack(">I", len(runs))
        + b"".join(struct.pack(">III", fc, spc, 1) for fc, spc in runs),
    )
    stsz = full(
        b"stsz", struct.pack(">II", 0, n) + struct.pack(f">{n}I", *sizes)
    )
    stco = full(
        b"stco",
        struct.pack(">I", len(chunk_offsets))
        + struct.pack(f">{len(chunk_offsets)}I", *chunk_offsets),
    )
    stbl = _mp4_box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _mp4_box(b"minf", vmhd + dinf + stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    return ftyp + _mp4_box(b"mdat", mdat_payload) + moov


@_typed_decode_errors
def media_info(content: bytes) -> dict:
    """Unified header-only probe — the cheap first pass a curation
    pipeline runs before committing to a full decode: dispatches on
    the container magic and returns the format's info dict plus a
    ``kind`` ('image' | 'audio' | 'video') and ``container`` tag.
    Unknown magic raises typed ValueError."""
    if content[:8] == _PNG_SIG:
        out, kind, tag = png_info(content), "image", "png"
    elif content[:2] == b"\xff\xd8":
        out, kind, tag = jpeg_info(content), "image", "jpeg"
    elif content[:6] in (b"GIF87a", b"GIF89a"):
        out, kind, tag = gif_info(content), "image", "gif"
    elif content[:2] == b"BM":
        if len(content) < 30:
            raise ValueError("truncated BMP header")
        (hdr_size,) = struct.unpack("<I", content[14:18])
        if hdr_size < 40:  # BITMAPCOREHEADER carries 16-bit dims at 18
            raise ValueError(f"unsupported BMP header size {hdr_size}")
        w, h = struct.unpack("<ii", content[18:26])
        out, kind, tag = {"width": w, "height": abs(h)}, "image", "bmp"
    elif content[:2] in (b"P5", b"P6"):
        px = decode_pgm(content)
        out = {"width": px.shape[1], "height": px.shape[0]}
        kind, tag = "image", "netpbm"
    elif content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        out, kind, tag = webp_info(content), "image", "webp"
    elif content[:4] in (b"II*\x00", b"MM\x00*"):
        out, kind, tag = tiff_info(content), "image", "tiff"
    elif content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        out, kind, tag = wav_info(content), "audio", "wav"
    elif content[:4] == b"fLaC":
        out, kind, tag = flac_info(content), "audio", "flac"
        out.pop("data_pos", None)
    elif content[:4] == b"RIFF" and content[8:12] == b"AVI ":
        out, kind, tag = avi_info(content), "video", "avi"
    elif len(content) >= 12 and content[4:8] == b"ftyp":
        out, kind, tag = mp4_info(content), "video", "mp4"
    elif content[:3] == b"ID3" or (
        len(content) >= 2
        and content[0] == 0xFF
        and content[1] & 0xE0 == 0xE0
    ):
        out, kind, tag = mp3_info(content), "audio", "mp3"
    elif content[:5] == b"%PDF-":
        from vearch_spark.functions.pdf import pdf_info

        info = pdf_info(content)
        out = {
            "n_pages": info["n_pages"],
            "n_objects": info["n_objects"],
            "pdf_version": info["version"],
        }
        kind, tag = "document", "pdf"
    else:
        raise ValueError("unrecognized media container magic")
    out = dict(out)
    out["kind"] = kind
    out["container"] = tag
    return out


# ------------------------------------------------------------------ FLAC
#
# FLAC (public xiph.org spec / RFC 9639) — the lossless audio
# container real crawls carry beside WAV. From-scratch decoder:
# STREAMINFO + metadata walk, frame headers (UTF-8-coded frame
# numbers, CRC-8), subframe types CONSTANT / VERBATIM / FIXED(0-4) /
# LPC(1-32) with wasted-bits, Rice-coded residual partitions (both
# 4- and 5-bit parameter widths, escape-to-raw), stereo
# decorrelation (left/side, right/side, mid/side), frame CRC-16, and
# the STREAMINFO MD5 of the decoded PCM as an end-to-end integrity
# gate. The encoder emits real FLAC (fixed predictors 0-2 chosen per
# block by residual magnitude, single-partition Rice residuals,
# independent channels) so foreign decoders read it; being lossless,
# round-trips pin exact integer equality like WAV/PNG.


def _crc8_flac(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_flac(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _MSBBitReader:
    """MSB-first bit reader (FLAC/JPEG bit order, no byte stuffing)."""

    __slots__ = ("data", "pos", "bitpos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.bitpos = 0

    def bit(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("FLAC bitstream truncated")
        b = (self.data[self.pos] >> (7 - self.bitpos)) & 1
        self.bitpos += 1
        if self.bitpos == 8:
            self.bitpos = 0
            self.pos += 1
        return b

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def sbits(self, n: int) -> int:
        v = self.bits(n)
        return v - (1 << n) if v >= 1 << (n - 1) else v

    def unary(self) -> int:
        n = 0
        while self.bit() == 0:
            n += 1
            if n > 1 << 24:
                raise ValueError("FLAC unary run too long")
        return n

    def align(self) -> None:
        if self.bitpos:
            self.bitpos = 0
            self.pos += 1


class _MSBBitWriter:
    __slots__ = ("buf", "cur", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.cur = 0
        self.nbits = 0

    def put(self, val: int, n: int) -> None:
        cur = (self.cur << n) | (val & ((1 << n) - 1))
        nb = self.nbits + n
        buf = self.buf
        while nb >= 8:
            nb -= 8
            buf.append((cur >> nb) & 0xFF)
        self.cur, self.nbits = cur & ((1 << nb) - 1), nb

    def align(self) -> None:
        if self.nbits:
            self.put(0, 8 - self.nbits)

    def flush(self) -> bytes:
        self.align()
        return bytes(self.buf)


def _flac_utf8_encode(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame/sample index)."""
    if n < 0x80:
        return bytes([n])
    out = []
    nbits = n.bit_length()
    nbytes = 2
    while nbits > 6 * (nbytes - 1) + (7 - nbytes):
        nbytes += 1
    lead = (0xFF << (8 - nbytes)) & 0xFF
    out.append(lead | (n >> (6 * (nbytes - 1))))
    for i in range(nbytes - 2, -1, -1):
        out.append(0x80 | ((n >> (6 * i)) & 0x3F))
    return bytes(out)


def _flac_utf8_decode(rdr: _MSBBitReader) -> int:
    b0 = rdr.bits(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("bad FLAC UTF-8 coded number")
    v = b0 & (0xFF >> (nbytes + 1))
    for _ in range(nbytes - 1):
        b = rdr.bits(8)
        if b & 0xC0 != 0x80:
            raise ValueError("bad FLAC UTF-8 continuation byte")
        v = (v << 6) | (b & 0x3F)
    return v


_FLAC_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_FLAC_BLOCK_SIZES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}

_FLAC_SAMPLE_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}

_FLAC_SAMPLE_SIZES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _flac_read_residual(rdr: _MSBBitReader, n: int, order: int) -> list:
    """Rice-coded residual (spec: coding methods 0/1, partition
    orders, per-partition parameter with escape-to-raw)."""
    method = rdr.bits(2)
    if method > 1:
        raise ValueError(f"reserved FLAC residual coding method {method}")
    pbits = 4 + method
    escape = (1 << pbits) - 1
    porder = rdr.bits(4)
    nparts = 1 << porder
    if n % nparts:
        raise ValueError("FLAC block size not divisible by partitions")
    out = []
    for p in range(nparts):
        cnt = (n >> porder) - (order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("FLAC partition smaller than predictor order")
        param = rdr.bits(pbits)
        if param == escape:
            width = rdr.bits(5)
            for _ in range(cnt):
                out.append(rdr.sbits(width) if width else 0)
        else:
            for _ in range(cnt):
                q = rdr.unary()
                v = (q << param) | rdr.bits(param)
                out.append((v >> 1) ^ -(v & 1))  # unzigzag
    return out


def _flac_read_subframe(rdr: _MSBBitReader, n: int, bps: int) -> list:
    if rdr.bit() != 0:
        raise ValueError("bad FLAC subframe padding bit")
    stype = rdr.bits(6)
    wasted = 0
    if rdr.bit():
        wasted = 1 + rdr.unary()
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("FLAC wasted bits exceed sample size")
    if stype == 0:  # CONSTANT
        v = rdr.sbits(eff)
        samples = [v] * n
    elif stype == 1:  # VERBATIM
        samples = [rdr.sbits(eff) for _ in range(n)]
    elif 8 <= stype <= 12:  # FIXED order 0-4
        order = stype - 8
        warm = [rdr.sbits(eff) for _ in range(order)]
        resid = _flac_read_residual(rdr, n, order)
        coefs = _FLAC_FIXED_COEFS[order]
        samples = list(warm)
        for i, r in enumerate(resid):
            pred = sum(c * samples[order + i - j - 1] for j, c in enumerate(coefs))
            samples.append(r + pred)
    elif stype >= 32:  # LPC order 1-32
        order = (stype & 31) + 1
        warm = [rdr.sbits(eff) for _ in range(order)]
        prec = rdr.bits(4)
        if prec == 15:
            raise ValueError("invalid FLAC LPC precision")
        prec += 1
        shift = rdr.sbits(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [rdr.sbits(prec) for _ in range(order)]
        resid = _flac_read_residual(rdr, n, order)
        samples = list(warm)
        for i, r in enumerate(resid):
            acc = sum(c * samples[order + i - j - 1] for j, c in enumerate(coefs))
            samples.append(r + (acc >> shift))
    else:
        raise ValueError(f"reserved FLAC subframe type {stype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def flac_info(content: bytes) -> dict:
    """STREAMINFO probe: rate, channels, bits per sample, total
    samples, PCM md5 (hex)."""
    if content[:4] != b"fLaC":
        raise ValueError("not a FLAC payload (missing fLaC magic)")
    pos = 4
    while pos + 4 <= len(content):
        hdr = content[pos]
        btype = hdr & 0x7F
        (ln,) = struct.unpack(">I", b"\x00" + content[pos + 1 : pos + 4])
        body = content[pos + 4 : pos + 4 + ln]
        if len(body) != ln:
            raise ValueError("truncated FLAC metadata block")
        if btype == 0:
            if ln < 34:
                raise ValueError("short FLAC STREAMINFO")
            sr = (body[10] << 12) | (body[11] << 4) | (body[12] >> 4)
            ch = ((body[12] >> 1) & 0x07) + 1
            bps = (((body[12] & 1) << 4) | (body[13] >> 4)) + 1
            total = ((body[13] & 0x0F) << 32) | struct.unpack(">I", body[14:18])[0]
            return {
                "sample_rate": sr,
                "channels": ch,
                "bits_per_sample": bps,
                "total_samples": total,
                "md5": body[18:34].hex(),
                "data_pos": pos + 4 + ln if hdr & 0x80 else None,
            }
        pos += 4 + ln
        if hdr & 0x80:
            break
    raise ValueError("FLAC missing STREAMINFO")


@_typed_decode_errors
def decode_flac(content: bytes) -> "np.ndarray":
    """Decode FLAC to the exact integer sample matrix (n_frames,
    channels) — same contract as :func:`decode_wav_pcm`. Verifies
    each frame's CRC-16 and, when STREAMINFO carries a non-zero MD5,
    the decoded PCM's MD5 against it — end-to-end integrity, not just
    parse success."""
    import hashlib

    info = flac_info(content)
    # find first frame: walk ALL metadata blocks
    pos = 4
    while True:
        hdr = content[pos]
        (ln,) = struct.unpack(">I", b"\x00" + content[pos + 1 : pos + 4])
        pos += 4 + ln
        if hdr & 0x80:
            break
    bps = info["bits_per_sample"]
    nch = info["channels"]
    total = info["total_samples"]
    if total == 0:
        # RFC 9639: 0 means "unknown length" — a legal wild-crawl
        # stream; reject typed instead of silently decoding nothing.
        raise ValueError("FLAC with unknown total_samples (0) unsupported")
    chans: list = [[] for _ in range(nch)]
    got = 0
    while got < total and pos + 2 <= len(content):
        frame_start = pos
        rdr = _MSBBitReader(content, pos)
        sync = rdr.bits(14)
        if sync != 0x3FFE:
            raise ValueError(f"bad FLAC frame sync at {pos}")
        rdr.bit()  # reserved
        rdr.bit()  # blocking strategy
        bs_code = rdr.bits(4)
        sr_code = rdr.bits(4)
        ch_code = rdr.bits(4)
        ss_code = rdr.bits(3)
        rdr.bit()  # reserved
        _flac_utf8_decode(rdr)
        if bs_code == 0:
            raise ValueError("reserved FLAC block size code")
        elif bs_code == 6:
            bsize = rdr.bits(8) + 1
        elif bs_code == 7:
            bsize = rdr.bits(16) + 1
        else:
            bsize = _FLAC_BLOCK_SIZES[bs_code]
        if sr_code == 12:
            rdr.bits(8)
        elif sr_code in (13, 14):
            rdr.bits(16)
        elif sr_code == 15:
            raise ValueError("invalid FLAC sample rate code")
        fbps = bps if ss_code == 0 else _FLAC_SAMPLE_SIZES.get(ss_code)
        if fbps is None:
            raise ValueError(f"reserved FLAC sample size code {ss_code}")
        # CRC-8 covers the header up to (not incl.) the CRC byte
        hdr_end = rdr.pos + (1 if rdr.bitpos else 0)
        if _crc8_flac(content[frame_start:hdr_end]) != content[hdr_end]:
            raise ValueError("FLAC frame header CRC-8 mismatch")
        rdr = _MSBBitReader(content, hdr_end + 1)
        if ch_code < 8:
            if ch_code + 1 != nch:
                raise ValueError("FLAC frame channel count differs from STREAMINFO")
            subs = [_flac_read_subframe(rdr, bsize, fbps) for _ in range(nch)]
        elif ch_code in (8, 9, 10):
            if nch != 2:
                raise ValueError("FLAC stereo decorrelation in non-stereo stream")
            if ch_code == 8:  # left/side
                left = _flac_read_subframe(rdr, bsize, fbps)
                side = _flac_read_subframe(rdr, bsize, fbps + 1)
                subs = [left, [l - s for l, s in zip(left, side)]]
            elif ch_code == 9:  # right/side
                side = _flac_read_subframe(rdr, bsize, fbps + 1)
                right = _flac_read_subframe(rdr, bsize, fbps)
                subs = [[r + s for r, s in zip(right, side)], right]
            else:  # mid/side: mid = (l+r)>>1 (floor), side = l-r
                mid = _flac_read_subframe(rdr, bsize, fbps)
                side = _flac_read_subframe(rdr, bsize, fbps + 1)
                left = [(((m << 1) | (s & 1)) + s) >> 1 for m, s in zip(mid, side)]
                subs = [left, [l - s for l, s in zip(left, side)]]
        else:
            raise ValueError(f"reserved FLAC channel assignment {ch_code}")
        rdr.align()
        if _crc16_flac(content[frame_start : rdr.pos]) != struct.unpack(
            ">H", content[rdr.pos : rdr.pos + 2]
        )[0]:
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = rdr.pos + 2
        for c in range(nch):
            chans[c].extend(subs[c])
        got += bsize
    if got < total:
        raise ValueError("FLAC stream ended before total_samples")
    out = np.array(chans, dtype=np.int64).T[:total]
    md5 = info["md5"]
    if md5 != "00" * 16:
        width = (bps + 7) // 8
        h = hashlib.md5()
        ints = out.astype("<i8")
        raw = bytearray()
        for row in ints:
            for v in row:
                raw += int(v).to_bytes(width, "little", signed=True)
        h.update(bytes(raw))
        if h.hexdigest() != md5:
            raise ValueError("FLAC decoded PCM MD5 mismatch vs STREAMINFO")
    return out


def _flac_rice_param(resid: list) -> int:
    """Parameter estimate: smallest k with mean(|zigzag|) < 2^k."""
    if not resid:
        return 0
    mean = sum((abs(r) << 1) for r in resid) / len(resid)
    k = 0
    while (1 << k) < mean and k < 14:
        k += 1
    return k


def flac_bytes(
    samples: "np.ndarray | list",
    sample_rate: int = 8000,
    bits_per_sample: int = 16,
    block_size: int = 4096,
) -> bytes:
    """Encode an integer sample matrix (n, channels) — or (n,) mono —
    as a real FLAC stream: STREAMINFO (with the PCM MD5), fixed-
    predictor subframes (order 0-2 chosen per channel-block by
    residual magnitude; falls back to VERBATIM when prediction loses),
    single-partition Rice residuals, independent channels, CRC-8 +
    CRC-16 per frame. Lossless: :func:`decode_flac` round-trips the
    exact integers, and foreign decoders verify the same CRCs/MD5."""
    import hashlib

    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 1:
        arr = arr[:, None]
    if arr.ndim != 2 or arr.shape[0] == 0 or not 1 <= arr.shape[1] <= 8:
        raise ValueError(f"expected (n, 1..8 channels) samples, got {arr.shape}")
    bps = int(bits_per_sample)
    if bps not in (8, 12, 16, 20, 24, 32):
        raise ValueError(f"unsupported bits_per_sample {bps}")
    block_size = int(block_size)
    if not 16 <= block_size <= 65535:  # spec minimum / 16-bit fields
        raise ValueError(f"block_size must be in [16, 65535], got {block_size}")
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if arr.min() < lo or arr.max() > hi:
        raise ValueError(f"samples exceed {bps}-bit range")
    n, nch = arr.shape
    width = (bps + 7) // 8
    h = hashlib.md5()
    raw = bytearray()
    for row in arr:
        for v in row:
            raw += int(v).to_bytes(width, "little", signed=True)
    h.update(bytes(raw))

    ss_code = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bps]
    out = bytearray(b"fLaC")
    si = _MSBBitWriter()
    si.put(block_size, 16)
    si.put(block_size, 16)
    si.put(0, 24)
    si.put(0, 24)
    si.put(int(sample_rate), 20)
    si.put(nch - 1, 3)
    si.put(bps - 1, 5)
    si.put(n, 36)
    body = si.flush() + h.digest()
    out += bytes([0x80]) + len(body).to_bytes(3, "big") + body  # last block

    for fi, start in enumerate(range(0, n, block_size)):
        blk = arr[start : start + block_size]
        bsize = blk.shape[0]
        w = _MSBBitWriter()
        w.put(0x3FFE, 14)
        w.put(0, 1)  # reserved
        w.put(0, 1)  # fixed blocksize strategy (frame number coded)
        w.put(7, 4)  # block size: 16-bit at end of header
        w.put(0, 4)  # sample rate: from STREAMINFO
        w.put(nch - 1, 4)  # independent channels
        w.put(ss_code, 3)
        w.put(0, 1)
        for b in _flac_utf8_encode(fi):
            w.put(b, 8)
        w.put(bsize - 1, 16)
        hdr = w.flush()
        w = _MSBBitWriter()
        frame = bytearray(hdr)
        frame.append(_crc8_flac(hdr))
        for c in range(nch):
            ch = [int(v) for v in blk[:, c]]
            # candidate fixed orders 0..2 (0 needs no warmup benefit)
            best_order, best_resid, best_cost = None, None, None
            for order in range(0, 3):
                if bsize <= order:
                    continue
                coefs = _FLAC_FIXED_COEFS[order]
                resid = [
                    ch[i] - sum(cc * ch[i - j - 1] for j, cc in enumerate(coefs))
                    for i in range(order, bsize)
                ]
                cost = sum(abs(r) for r in resid)
                if best_cost is None or cost < best_cost:
                    best_order, best_resid, best_cost = order, resid, cost
            param = _flac_rice_param(best_resid)
            # constant block: CONSTANT subframe
            if all(v == ch[0] for v in ch):
                w.put(0, 1)
                w.put(0, 6)
                w.put(0, 1)
                w.put(ch[0] & ((1 << bps) - 1), bps)
                continue
            # if rice would explode (pathological), verbatim wins
            est = len(best_resid) * (param + 2) + best_order * bps
            if est > bsize * bps:
                w.put(0, 1)
                w.put(1, 6)
                w.put(0, 1)
                for v in ch:
                    w.put(v & ((1 << bps) - 1), bps)
                continue
            w.put(0, 1)
            w.put(8 + best_order, 6)  # FIXED
            w.put(0, 1)  # no wasted bits
            for i in range(best_order):
                w.put(ch[i] & ((1 << bps) - 1), bps)
            w.put(0, 2)  # rice method 0 (4-bit params)
            w.put(0, 4)  # partition order 0
            w.put(param, 4)
            for r in best_resid:
                z = (abs(r) << 1) - (1 if r < 0 else 0)  # zigzag
                # unary quotient (q zeros, a one), then the low bits
                q, low = z >> param, z & ((1 << param) - 1)
                w.put((1 << param) | low, q + 1 + param)
        frame += w.flush()
        frame += struct.pack(">H", _crc16_flac(bytes(frame)))
        out += frame
    return bytes(out)


# ------------------------------------------------------------------ TIFF
#
# Baseline TIFF (public Adobe TIFF 6.0 spec): header (II/MM byte
# order + magic 42), IFD entry walk, strip-organized 8-bit grayscale
# and RGB(A) images, compressions None (1), LZW (5 — the TIFF
# variant: MSB-first code packing and the early-change +1, which is
# NOT the GIF LZW this module already has), and PackBits (32773).
# Tiled, planar-separated, palette, and JPEG-in-TIFF variants raise
# typed ValueError. The encoder writes single-IFD strip TIFFs in any
# of the three compressions so foreign decoders read them; lossless,
# so round-trips pin exact bytes.

_TIFF_TYPES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}  # BYTE ASCII SHORT LONG RATIONAL
# the LZW table's first 258 entries: the byte strings, CLEAR, EOI
_TIFF_LZW_ROOTS = tuple(bytes([i]) for i in range(256)) + (b"", b"")


def _tiff_lzw_decompress(data: bytes, expect: int) -> bytes:
    """TIFF-variant LZW: codes pack MSB-first; code width grows at
    2^n - 1 (early change); CLEAR = 256, EOI = 257."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table = list(_TIFF_LZW_ROOTS)
    size, width, grow = 258, 9, 511  # size = len(table)
    acc = nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = acc >> nbits
            acc &= (1 << nbits) - 1
            if code == EOI:
                if len(out) != expect:
                    raise ValueError(
                        f"TIFF LZW: {len(out)} bytes decoded, {expect} expected"
                    )
                return bytes(out)
            if code == CLEAR:
                table = list(_TIFF_LZW_ROOTS)
                size, width, grow = 258, 9, 511
                prev = None
                continue
            if prev is None:
                if code >= 256:
                    raise ValueError("TIFF LZW: first code not a literal")
                entry = table[code]
            elif code < size:
                entry = table[code]
                table.append(prev + _TIFF_LZW_ROOTS[entry[0]])
                size += 1
            elif code == size:
                entry = prev + _TIFF_LZW_ROOTS[prev[0]]
                table.append(entry)
                size += 1
            else:
                raise ValueError(f"TIFF LZW: code {code} beyond table")
            out += entry
            if len(out) > expect:
                raise ValueError("TIFF LZW output exceeds strip size")
            prev = entry
            # early change: width grows one code EARLY (at 2^n - 1)
            if size >= grow and width < 12:
                width += 1
                grow = (1 << width) - 1
    raise ValueError("TIFF LZW stream ended without EOI")


def _pack_msb(codes: list, widths: list) -> bytes:
    """Concatenate ``codes[i]`` as ``widths[i]``-bit (<= 16) MSB-first
    fields, zero-padded to a whole byte."""
    shift = np.asarray(widths, dtype=np.int32)[:, None] - 1 - np.arange(16)
    bits = (np.asarray(codes, dtype=np.int32)[:, None] >> np.maximum(shift, 0)) & 1
    return np.packbits(bits[shift >= 0].astype(np.uint8)).tobytes()


def _tiff_lzw_compress(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (MSB-first, early change). The
    dictionary maps (prefix code << 8 | next byte) to a code, so a
    lookup never builds the string it stands for."""
    CLEAR, EOI = 256, 257
    table: dict[int, int] = {}
    nxt = 258
    width = 9
    codes, widths = [CLEAR], [width]
    cur = data[0] if data else -1  # code of the current string; -1 = empty
    for byte in data[1:]:
        key = (cur << 8) | byte
        code = table.get(key)
        if code is not None:
            cur = code
            continue
        codes.append(cur)
        widths.append(width)
        table[key] = nxt
        nxt += 1
        # early-change pairing: the decoder's table runs one entry
        # behind the encoder's, so the encoder widens at next-code ==
        # 2^w where the decoder widens at table-size == 2^w - 1 (the
        # libtiff rule pair)
        if nxt == (1 << width) and width < 12:
            width += 1
        elif nxt == (1 << 12) - 1:
            codes.append(CLEAR)
            widths.append(width)
            table = {}
            nxt = 258
            width = 9
        cur = byte
    if cur >= 0:
        codes.append(cur)
        widths.append(width)
        # the decoder appends a table entry for this last code too and
        # widens before reading EOI (libtiff LZWPostEncode)
        nxt += 1
        if nxt == (1 << width) and width < 12:
            width += 1
    codes.append(EOI)
    widths.append(width)
    return _pack_msb(codes, widths)


def _packbits_decompress(data: bytes, expect: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expect:
        n = data[i]
        i += 1
        if n < 128:  # literal run of n+1
            if i + n + 1 > len(data):
                raise ValueError("truncated PackBits literal run")
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:  # repeat next byte 257-n times
            if i >= len(data):
                raise ValueError("truncated PackBits repeat run")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) != expect:
        raise ValueError(f"PackBits: {len(out)} bytes decoded, {expect} expected")
    return bytes(out)


def _packbits_compress(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        # find a repeat run of >= 3
        j = i
        while j + 1 < n and data[j + 1] == data[j] and j - i < 127:
            j += 1
        if j - i >= 2:  # repeat run [i..j]
            out += bytes([257 - (j - i + 1), data[i]])
            i = j + 1
            continue
        # literal run until the next >=3 repeat (max 128)
        j = i
        while (
            j + 1 <= n - 1
            and j - i < 127
            and not (
                j + 2 < n and data[j + 1] == data[j + 2] == data[j]
            )
        ):
            if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out += bytes([j - i]) + data[i : j + 1]
        i = j + 1
    return bytes(out)


def _tiff_ifd(content: bytes) -> dict:
    if content[:2] == b"II":
        bo = "<"
    elif content[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF payload (bad byte-order mark)")
    (magic,) = struct.unpack(bo + "H", content[2:4])
    if magic != 42:
        raise ValueError(f"not a TIFF payload (magic {magic})")
    (ifd_off,) = struct.unpack(bo + "I", content[4:8])
    if ifd_off + 2 > len(content):
        raise ValueError("truncated TIFF IFD offset")
    (n_entries,) = struct.unpack(bo + "H", content[ifd_off : ifd_off + 2])
    tags: dict[int, list] = {}
    for i in range(n_entries):
        e = ifd_off + 2 + 12 * i
        if e + 12 > len(content):
            raise ValueError("truncated TIFF IFD entry")
        tag, typ, cnt = struct.unpack(bo + "HHI", content[e : e + 8])
        size = _TIFF_TYPES.get(typ)
        if size is None:
            continue  # unknown type: spec says skip
        total = size * cnt
        if total <= 4:
            raw = content[e + 8 : e + 8 + total]
        else:
            (off,) = struct.unpack(bo + "I", content[e + 8 : e + 12])
            raw = content[off : off + total]
            if len(raw) != total:
                raise ValueError(f"truncated TIFF tag {tag} data")
        if typ == 3:
            vals = list(struct.unpack(bo + f"{cnt}H", raw))
        elif typ == 4:
            vals = list(struct.unpack(bo + f"{cnt}I", raw))
        elif typ in (1, 2):
            vals = list(raw)
        else:  # RATIONAL
            vals = [
                struct.unpack(bo + "II", raw[k * 8 : k * 8 + 8]) for k in range(cnt)
            ]
        tags[tag] = vals
    return {"bo": bo, "tags": tags}


def tiff_info(content: bytes) -> dict:
    ifd = _tiff_ifd(content)
    t = ifd["tags"]
    if 256 not in t or 257 not in t:
        raise ValueError("TIFF missing ImageWidth/ImageLength")
    return {
        "width": int(t[256][0]),
        "height": int(t[257][0]),
        "channels": int(t.get(277, [1])[0]),
        "compression": int(t.get(259, [1])[0]),
        "byte_order": "little" if ifd["bo"] == "<" else "big",
    }


@_typed_decode_errors
def decode_tiff(content: bytes) -> "np.ndarray":
    """Decode a baseline strip TIFF to exact uint8 pixels: (H, W)
    grayscale or (H, W, 3|4) RGB(A). Both byte orders; compressions
    None / LZW (TIFF variant, early change) / PackBits; horizontal
    differencing predictor (tag 317 = 2); multi-strip. Tiled, planar,
    palette, sub-8-bit, and JPEG-in-TIFF raise typed ValueError."""
    ifd = _tiff_ifd(content)
    t = ifd["tags"]
    for need in (256, 257, 273, 279):
        if need not in t:
            raise ValueError(f"TIFF missing required tag {need}")
    w, h = int(t[256][0]), int(t[257][0])
    if w <= 0 or h <= 0 or w * h > _MAX_DECODE_PIXELS:
        raise ValueError(f"bad TIFF geometry {w}x{h}")
    spp = int(t.get(277, [1])[0])
    if spp not in (1, 3, 4):
        raise ValueError(f"unsupported TIFF SamplesPerPixel {spp}")
    bits = t.get(258, [8] * spp)
    if any(b != 8 for b in bits):
        raise ValueError(f"only 8-bit TIFF samples supported (got {bits})")
    comp = int(t.get(259, [1])[0])
    if comp not in (1, 5, 32773):
        raise ValueError(
            f"unsupported TIFF compression {comp} (None/LZW/PackBits only)"
        )
    if int(t.get(284, [1])[0]) != 1:
        raise ValueError("planar-separated TIFF not supported")
    if 322 in t or 323 in t:
        raise ValueError("tiled TIFF not supported")
    if int(t.get(262, [1])[0]) == 3:
        raise ValueError("palette TIFF not supported")
    predictor = int(t.get(317, [1])[0])
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    rows_per_strip = int(t.get(278, [h])[0])
    offsets, counts = t[273], t[279]
    if len(offsets) != len(counts):
        raise ValueError("TIFF StripOffsets/StripByteCounts length mismatch")
    row_bytes = w * spp
    raw = bytearray()
    done_rows = 0
    for off, cnt in zip(offsets, counts):
        strip_rows = min(rows_per_strip, h - done_rows)
        expect = strip_rows * row_bytes
        chunk = content[int(off) : int(off) + int(cnt)]
        if len(chunk) != int(cnt):
            raise ValueError("TIFF strip extends past file end")
        if comp == 1:
            if len(chunk) < expect:
                raise ValueError("TIFF uncompressed strip short")
            raw += chunk[:expect]
        elif comp == 5:
            raw += _tiff_lzw_decompress(chunk, expect)
        else:
            raw += _packbits_decompress(chunk, expect)
        done_rows += strip_rows
    if done_rows < h:
        raise ValueError("TIFF strips cover fewer rows than ImageLength")
    px = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(h, w, spp)
    if predictor == 2:  # horizontal differencing: undo per row
        px = np.cumsum(px.astype(np.int64), axis=1).astype(np.uint8)
    return px[:, :, 0] if spp == 1 else px


def tiff_bytes(
    pixels: "np.ndarray | list",
    compression: str = "lzw",
    rows_per_strip: int = 64,
    big_endian: bool = False,
    predictor: bool = False,
) -> bytes:
    """Encode uint8 pixels ((H, W) gray, (H, W, 3|4) RGB(A)) as a
    single-IFD strip TIFF with compression 'none' | 'lzw' |
    'packbits', optional horizontal-differencing predictor (LZW),
    either byte order. Lossless round-trip with :func:`decode_tiff`."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        spp = 1
        arr3 = arr[:, :, None]
    elif arr.ndim == 3 and arr.shape[2] in (3, 4):
        spp = arr.shape[2]
        arr3 = arr
    else:
        raise ValueError(f"expected (H,W) or (H,W,3|4) uint8, got {arr.shape}")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    comp_code = {"none": 1, "lzw": 5, "packbits": 32773}.get(compression)
    if comp_code is None:
        raise ValueError(f"compression must be none/lzw/packbits, got {compression}")
    if predictor and comp_code != 5:
        raise ValueError("the horizontal predictor is supported with lzw only")
    bo = ">" if big_endian else "<"

    src = arr3
    if predictor:
        d = src.astype(np.int64)
        src = ((d - np.concatenate(
            [np.zeros((h, 1, spp), dtype=np.int64), d[:, :-1]], axis=1
        )) & 0xFF).astype(np.uint8)
    strips = []
    for r0 in range(0, h, rows_per_strip):
        chunk = np.ascontiguousarray(src[r0 : r0 + rows_per_strip]).tobytes()
        if comp_code == 1:
            strips.append(chunk)
        elif comp_code == 5:
            strips.append(_tiff_lzw_compress(chunk))
        else:
            strips.append(_packbits_compress(chunk))

    n_strips = len(strips)
    entries = []  # (tag, type, count, value-or-bytes)

    def entry(tag, typ, vals):
        entries.append((tag, typ, vals))

    entry(256, 4, [w])
    entry(257, 4, [h])
    entry(258, 3, [8] * spp)
    entry(259, 3, [comp_code])
    entry(262, 3, [1 if spp == 1 else 2])  # BlackIsZero / RGB
    entry(273, 4, None)  # strip offsets, patched below
    entry(277, 3, [spp])
    entry(278, 4, [rows_per_strip])
    entry(279, 4, [len(s) for s in strips])
    if predictor:
        entry(317, 3, [2])
    if spp == 4:
        entry(338, 3, [2])  # ExtraSamples: unassociated alpha
    entries.sort(key=lambda e: e[0])

    # layout: header(8) + IFD + overflow data + strips
    ifd_off = 8
    ifd_size = 2 + 12 * len(entries) + 4
    over_off = ifd_off + ifd_size
    overflow = bytearray()

    def pack_vals(typ, vals):
        fmt = {3: "H", 4: "I"}[typ]
        return struct.pack(bo + f"{len(vals)}{fmt}", *vals)

    # first pass to size overflow (strip offsets counted too)
    sized = []
    for tag, typ, vals in entries:
        n = n_strips if vals is None else len(vals)
        total = _TIFF_TYPES[typ] * n
        sized.append(total)
    over_cursor = over_off + sum(t for t in sized if t > 4)
    strip_start = over_cursor
    offsets = []
    cur = strip_start
    for s in strips:
        offsets.append(cur)
        cur += len(s)

    ifd = bytearray(struct.pack(bo + "H", len(entries)))
    data_cursor = over_off
    for (tag, typ, vals), total in zip(entries, sized):
        if vals is None:
            vals = offsets
        packed = pack_vals(typ, vals)
        ifd += struct.pack(bo + "HHI", tag, typ, len(vals))
        if total <= 4:
            ifd += packed + b"\x00" * (4 - total)
        else:
            ifd += struct.pack(bo + "I", data_cursor)
            overflow += packed
            data_cursor += total
    ifd += struct.pack(bo + "I", 0)  # next IFD

    out = bytearray()
    out += (b"MM" if big_endian else b"II") + struct.pack(bo + "HI", 42, ifd_off)
    out += ifd
    out += overflow
    for s in strips:
        out += s
    return bytes(out)
