"""Throughput evidence for the media frame-sampling pipeline at scale.

The gif/video_frame_sample driver queries run on fixed small slices
(oracle-checkable); the 100 TB question is decoder THROUGHPUT: how many
real containers per second does the Arrow-batched mapInPandas path
decode when the corpus is large? This harness synthesizes N containers
per format inside executors — animated GIFs, DIB AVIs, MJPEG MP4s (4
frames each), lossless WebPs, and FLAC clips — decodes them with the
real codecs, takes the per-container fingerprint (frame dHash / audio
energy envelope), and reduces to one count: binaries and frames never
leave the executors.

Usage: python tools/stress_media.py [N] [formats]  (default 100_000,
formats a comma list from gif,avi,mp4,png,webp,webpbig,flac,tiff,pdf;
default all but webpbig — the crawl-sized 128x144 WebP arm is opt-in
since it decodes ~60x the pixels per container. The pdf arm typesets
~450 words over 3 FlateDecode pages per container and re-extracts
them — document-class text extraction throughput. The warc arm
writes and re-parses a two-record multi-member .warc.gz with a full
HTTP message per container — crawl-ingest throughput).
Prints one JSON line with containers/s (and frames/s where framed).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

FRAMES = 4
H, W = 16, 18  # dHash-compatible grid (H%8==0, W%9==0)


def main() -> None:
    import pandas as pd
    from pyspark.sql import functions as F

    from vearch_spark.functions.media import (
        audio_fingerprint64,
        avi_bytes,
        decode_avi,
        decode_flac,
        decode_gif,
        decode_mp4,
        decode_png,
        decode_tiff,
        decode_webp,
        dhash64,
        flac_bytes,
        gif_bytes,
        mp4_bytes,
        png_bytes,
        tiff_bytes,
        webp_bytes,
    )
    from vearch_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    formats = (
        sys.argv[2].split(",") if len(sys.argv) > 2
        else ["gif", "avi", "mp4", "png", "webp", "flac", "tiff", "pdf", "warc"]  # webpbig opt-in
    )
    from vearch_spark.functions.pdf import extract_pdf_text, pdf_bytes
    from vearch_spark.sources.warc import (
        http_response_bytes,
        parse_http_response,
        parse_warc,
        warc_gz_bytes,
        warc_record_bytes,
    )
    spark = get_spark(app_name="media-stress")
    ids = spark.range(n).select(F.col("id").alias("doc_id")).repartition(32)

    def synth(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                rng = np.random.default_rng(i)
                pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
                stack = rng.integers(0, 16, (FRAMES, H, W), dtype=np.uint8)
                rgb = pal[stack.astype(np.int64)]
                row = [i]
                if "gif" in formats:
                    row.append(gif_bytes(stack, pal))
                if "avi" in formats:
                    row.append(avi_bytes(rgb, codec="DIB"))
                if "mp4" in formats:
                    row.append(mp4_bytes(rgb, quality=85))
                if "png" in formats:
                    row.append(png_bytes(rgb[0]))
                if "webp" in formats:
                    row.append(webp_bytes(rgb[0]))
                if "webpbig" in formats:
                    # crawl-sized: 128x128 blocked texture + noise
                    # quadrant — LZ77 runs AND literal-dense regions,
                    # the shape a real crawl's WebP actually has
                    bx, by = np.meshgrid(np.arange(144), np.arange(128))
                    big = np.stack(
                        [((i + bx // 4) * 11 + (by // 4) * 17 + c * 23) % 256
                         for c in range(3)], -1,
                    ).astype(np.uint8)
                    big[:32, :32] = rng.integers(
                        0, 256, (32, 32, 3), dtype=np.uint8
                    )
                    row.append(webp_bytes(big))
                if "flac" in formats:
                    pcm = np.cumsum(
                        rng.integers(-80, 80, 65 * 8), dtype=np.int64
                    ).clip(-32768, 32767)
                    row.append(flac_bytes(pcm[:, None], 8000))
                if "tiff" in formats:
                    row.append(tiff_bytes(rgb[0], compression="lzw"))
                if "pdf" in formats:
                    # ~450 words over 3 pages, 10-word lines — the
                    # shape of a short real document
                    pages = [
                        "\n".join(
                            " ".join(
                                f"w{(i * 7 + p * 31 + ln * 13 + k) % 997}"
                                for k in range(10)
                            )
                            for ln in range(15)
                        )
                        for p in range(3)
                    ]
                    row.append(pdf_bytes(pages, compress=True))
                if "warc" in formats:
                    body = " ".join(
                        f"w{(i * 11 + k) % 997}" for k in range(200)
                    ).encode()
                    url = f"https://crawl.test/{i}"
                    row.append(warc_gz_bytes([
                        warc_record_bytes(
                            "response", http_response_bytes(body),
                            target_uri=url,
                            content_type="application/http; msgtype=response",
                        ),
                        warc_record_bytes("metadata", b"fetch: ok",
                                          target_uri=url),
                    ]))
                rows.append(tuple(row))
            cols = ["doc_id"] + [f for f in ("gif", "avi", "mp4", "png", "webp", "webpbig", "flac", "tiff", "pdf", "warc") if f in formats]
            yield pd.DataFrame(rows, columns=cols)

    schema = "doc_id long" + "".join(
        f", {f} binary" for f in ("gif", "avi", "mp4", "png", "webp", "webpbig", "flac", "tiff", "pdf", "warc")
        if f in formats
    )
    media = ids.mapInPandas(synth, schema=schema).persist()
    media.count()  # materialize synthesis OUTSIDE the timed decode

    def run(col, decoder):
        def sample(batches):
            for pdf in batches:
                out = []
                for i, blob in zip(pdf["doc_id"], pdf[col]):
                    frames = decoder(bytes(blob))
                    hs = [int(dhash64(f[..., :3])) for f in frames]
                    out.append((int(i), len(hs), hs[0]))
                yield pd.DataFrame(out, columns=["doc_id", "nf", "h0"])

        t0 = time.time()
        got = media.mapInPandas(
            sample, schema="doc_id long, nf int, h0 long"
        ).agg(F.count("*"), F.sum("nf")).collect()[0]
        dt = time.time() - t0
        assert got[0] == n and got[1] == n * FRAMES
        return round(n / dt, 1), round(n * FRAMES / dt, 1)

    def run_single(col, decoder, hasher):
        """One fingerprint per container (webp image / flac clip)."""

        def sample(batches):
            for pdf in batches:
                out = []
                for i, blob in zip(pdf["doc_id"], pdf[col]):
                    out.append((int(i), int(hasher(decoder(bytes(blob))))))
                yield pd.DataFrame(out, columns=["doc_id", "h0"])

        t0 = time.time()
        got = media.mapInPandas(
            sample, schema="doc_id long, h0 long"
        ).agg(F.count("*")).collect()[0]
        dt = time.time() - t0
        assert got[0] == n
        return round(n / dt, 1)

    out = {"n": n, "frames_per_container": FRAMES}
    if "gif" in formats:
        out["gif_containers_per_s"], out["gif_frames_per_s"] = run(
            "gif", decode_gif
        )
    if "avi" in formats:
        out["avi_containers_per_s"], out["avi_frames_per_s"] = run(
            "avi", decode_avi
        )
    if "mp4" in formats:
        out["mp4_containers_per_s"], out["mp4_frames_per_s"] = run(
            "mp4", decode_mp4
        )
    if "png" in formats:
        out["png_containers_per_s"] = run_single(
            "png", decode_png, lambda px: dhash64(px[..., :3])
        )
    if "webp" in formats:
        out["webp_containers_per_s"] = run_single(
            "webp", decode_webp, lambda px: dhash64(px[..., :3])
        )
    if "webpbig" in formats:
        out["webpbig_containers_per_s"] = run_single(
            "webpbig", decode_webp, lambda px: dhash64(px[..., :3])
        )
    if "flac" in formats:
        out["flac_containers_per_s"] = run_single(
            "flac", decode_flac, audio_fingerprint64
        )
    if "tiff" in formats:
        out["tiff_containers_per_s"] = run_single(
            "tiff", decode_tiff, lambda px: dhash64(px[..., :3])
        )
    if "pdf" in formats:
        import hashlib

        out["pdf_containers_per_s"] = run_single(
            "pdf",
            extract_pdf_text,
            lambda t: int.from_bytes(
                hashlib.md5(t.encode("latin-1")).digest()[:8],
                "big",
                signed=True,
            ),
        )
    if "warc" in formats:
        import hashlib

        def warc_body(blob):
            recs = parse_warc(blob)
            resp = next(r for r in recs if r["warc_type"] == "response")
            return parse_http_response(resp["payload"])[2]

        out["warc_containers_per_s"] = run_single(
            "warc",
            warc_body,
            lambda b: int.from_bytes(
                hashlib.md5(b).digest()[:8], "big", signed=True
            ),
        )
    media.unpersist()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
