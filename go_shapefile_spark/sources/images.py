"""Synthetic image+caption table (north-rule input, BASELINE.json input_hint).

Schema: images(image_id string, bytes binary, w int, h int, fmt string,
caption string, phash long).  Everything is a deterministic function of
the row index (seed-stable at any scale factor), so invariants can be
checked without storing ground truth: pixels regenerate from ``phash``.

PNG is a REAL codec here (pure python: zlib + chunk framing + filter-0
scanlines, decoder with full filter-type unfiltering) — lossless, so the
decoded-pixel invariant is exact equality (PSNR = ∞ ≥ 40 dB).  JPEG rows
carry REAL baseline JFIF bytes from the pure-numpy codec in
``jpeg_codec.py`` (8×8 DCT + Annex-K quantization/Huffman, quality
``JPEG_QUALITY``): genuinely lossy, so the invariant for them is
PSNR ≥ 40 dB against the regenerated reference pixels — random pixel
fields are JPEG's worst case, and quality 98 measures ~43 dB on them.

Partitioning: the generator writes parquet partitioned by
``bucket = phash % n_buckets`` — the stand-in for an Iceberg
``bucket(phash)`` partition spec (SURVEY.md §7 slice 3 fallback).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..operators import local
from ..operators.geotag import lonlat_np, splitmix64
from .jpeg_codec import CODEC_VERSION, decode_jpeg, encode_jpeg

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

JPEG_QUALITY = 98   # lowest Annex-K quality that keeps PSNR ≥ 40 dB on
                    # random pixel fields (the generator's worst case)

# Cache-path tag for every corpus built from this generator: any codec
# behavior change (CODEC_VERSION bump) invalidates cached bytes
# automatically instead of relying on a manual suffix bump (ADVICE r4 #3).
CORPUS_TAG = f"q{JPEG_QUALITY}_v{CODEC_VERSION}"

_WORDS = ("tile cell polygon raster vector join index spark image caption "
          "satellite aerial coastal urban rural forest river mountain city "
          "harbor").split()


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload +
            struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def encode_png(pixels: np.ndarray) -> bytes:
    """RGB8 (h, w, 3) → PNG bytes (filter 0, fixed zlib level 6)."""
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    idat = zlib.compress(raw, 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(ftype: int, cur: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    out = cur.astype(np.int32)
    if ftype == 0:
        return cur
    if ftype == 2:
        return ((out + prev) % 256).astype(np.uint8)
    res = np.zeros_like(cur)
    for i in range(len(cur)):
        a = int(res[i - bpp]) if i >= bpp else 0
        b = int(prev[i])
        if ftype == 1:
            v = cur[i] + a
        elif ftype == 3:
            v = cur[i] + (a + b) // 2
        else:  # paeth
            c = int(prev[i - bpp]) if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            v = cur[i] + pred
        res[i] = v % 256
    return res


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    """bytes → RGB8 (h, w, 3).  PNG: real decoder (below).  JPEG (both
    ``jpeg`` = our baseline encoder's output and ``jpegp`` = progressive
    fixture rows): real JFIF decoder (jpeg_codec.py)."""
    if fmt in ("jpeg", "jpegp"):
        return decode_jpeg(data)
    if fmt != "png":
        raise ValueError(f"unsupported format {fmt!r}")
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack_from(">IIBB", payload, 0)
            if depth != 8 or ctype != 2:
                raise ValueError("only 8-bit RGB supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = 3 * w
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    if not rows[:, 0].any():
        # fast path: every scanline uses filter 0 (what our encoder
        # writes) → the payload is the pixel matrix, one bulk reshape
        return rows[:, 1:].reshape(h, w, 3).copy()
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        out[y] = _unfilter(int(rows[y, 0]), rows[y, 1:], prev, 3)
        prev = out[y]
    return out.reshape(h, w, 3)


def pixels_from_phash(phash: int, w: int, h: int) -> np.ndarray:
    """Deterministic pixel field: splitmix64 stream over phash."""
    n = w * h * 3
    idx = np.arange((n + 7) // 8, dtype=np.uint64)
    # mask first: np.uint64(negative int) is deprecated out-of-bounds
    # conversion (OverflowError under numpy 2); the & keeps the exact
    # two's-complement wrap the corpora were generated with
    stream = splitmix64(
        (np.uint64(phash & 0xFFFFFFFFFFFFFFFF) + idx).view(np.int64))
    return stream.view(np.uint8)[:n].reshape(h, w, 3).copy()


def pixels_lowfreq_from_phash(phash: int, w: int, h: int) -> np.ndarray:
    """Deterministic luma-varying / chroma-stable pixel field.

    Progressive gate fixtures are encoded by the JVM's libjpeg-backed
    writer, which always chroma-subsamples 4:2:0 — on the splitmix64
    noise field that caps PSNR at ~13 dB for ANY decoder, so those rows
    get JPEG-friendly content instead: a low-frequency luma cosine with
    per-image constant chroma (subsampling is then exact), regenerable
    from ``phash`` like every other row."""
    from .jpeg_codec import _ycbcr_to_rgb

    # (phash & mask) >> 1 in Python ints: np.uint64(negative) is a
    # deprecated out-of-bounds conversion (OverflowError under numpy 2)
    s = splitmix64(np.arange(5, dtype=np.int64)
                   + np.int64((phash & 0xFFFFFFFFFFFFFFFF) >> 1))
    fx = 0.5 + (int(s[0]) % 5) * 0.25          # 0.5..1.5 cycles/image
    fy = 0.5 + (int(s[1]) % 5) * 0.25
    phase = (int(s[2]) % 628) / 100.0
    cb = 112.0 + (int(s[3]) % 33)              # constant chroma 112..144
    cr = 112.0 + (int(s[4]) % 33)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    luma = 128.0 + 80.0 * np.cos(
        2 * np.pi * (fx * xx / w + fy * yy / h) + phase)
    ycc = np.stack([luma, np.full_like(luma, cb),
                    np.full_like(luma, cr)], axis=-1)
    return _ycbcr_to_rgb(ycc)


def encode_jpeg_jvm(spark: SparkSession, pixels: np.ndarray,
                    quality: float = 0.95, progressive: bool = True,
                    gray: bool = False) -> bytes:
    """JPEG bytes via javax.imageio — the JVM's libjpeg-backed writer is
    the only progressive ENCODER in this sandbox (our encoder stays
    baseline by design); the DECODER for these bytes is ours
    (jpeg_codec.decode_jpeg).  Driver-side only (py4j gateway), used to
    plant gate/test fixtures and by the cross-decoder interop tests.

    The pixels ship as ONE PNG byte payload (our own lossless codec)
    that the JVM decodes back — a per-pixel ``setRGB`` loop costs one
    py4j round trip per pixel (r5 review).  ``gray=True`` converts to a
    single-band image JVM-side so the writer emits a one-component
    JPEG (the converted sample values are the JVM's, which is fine:
    interop tests compare decoders on the same BYTES)."""
    jvm = spark._jvm
    if pixels.ndim == 2:
        pixels = np.stack([pixels] * 3, axis=-1)
    h, w = pixels.shape[:2]
    bais = jvm.java.io.ByteArrayInputStream(bytearray(encode_png(pixels)))
    bi = jvm.javax.imageio.ImageIO.read(bais)
    if gray:
        g = jvm.java.awt.image.BufferedImage(w, h, 10)  # TYPE_BYTE_GRAY
        g.getGraphics().drawImage(bi, 0, 0, None)
        bi = g
    writer = jvm.javax.imageio.ImageIO \
        .getImageWritersByFormatName("jpeg").next()
    param = writer.getDefaultWriteParam()
    if progressive:
        param.setProgressiveMode(
            jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    param.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(float(quality))
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
    ios.close()
    data = bytes(baos.toByteArray())
    if progressive and b"\xff\xc2" not in data:
        raise ValueError("JVM writer did not produce a progressive JPEG")
    return data


def plant_progressive_rows(spark: SparkSession, path: str, start_idx: int,
                           n: int, n_buckets: int = 16,
                           quality: float = 0.95) -> None:
    """Append ``n`` progressive-JPEG rows to an images table: real SOF2
    multi-scan streams (encoded by the independent JVM codec) that the
    strict-mode invariant gate must decode with OUR decoder.  Rows
    follow the table's determinism contract — pixels regenerate from
    ``phash`` (via :func:`pixels_lowfreq_from_phash`, see there for why
    not the noise field)."""
    from pyspark.sql import functions as F

    idx = np.arange(start_idx, start_idx + n, dtype=np.int64)
    phash = splitmix64(idx).view(np.int64)
    sizes = 8 + (phash % 3).astype(np.int64) * 8
    rows = []
    for i, ph, s in zip(idx, phash, sizes):
        w = h = int(abs(s))
        px = pixels_lowfreq_from_phash(int(ph), w, h)
        data = encode_jpeg_jvm(spark, px, quality)
        rows.append((f"img-{int(i):010d}", data, w, h, "jpegp",
                     caption_of(int(ph)), int(ph)))
    pdf = pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h",
                                      "fmt", "caption", "phash"])
    (spark.createDataFrame(pdf, schema=IMAGES_SCHEMA)
     .withColumn("bucket", F.pmod(F.col("phash"), F.lit(n_buckets)))
     .write.mode("append").partitionBy("bucket").parquet(path))


def caption_of(phash: int) -> str:
    h = int(splitmix64(np.array([phash], dtype=np.int64))[0])
    words = [_WORDS[(h >> (5 * i)) % len(_WORDS)] for i in range(6)]
    return " ".join(words)


def generate_batch(start: int, end: int, jpeg_mod: int = 10) -> pd.DataFrame:
    """Rows [start, end): fully deterministic in the row index."""
    idx = np.arange(start, end, dtype=np.int64)
    phash = splitmix64(idx).view(np.int64)
    sizes = 8 + (phash % 3).astype(np.int64) * 8  # w,h ∈ {8,16,24}
    rows = []
    for i, ph, s in zip(idx, phash, sizes):
        w = h = int(abs(s))
        fmt = "jpeg" if i % jpeg_mod == 9 else "png"
        px = pixels_from_phash(int(ph), w, h)
        data = encode_png(px) if fmt == "png" else \
            encode_jpeg(px, JPEG_QUALITY)
        rows.append((f"img-{int(i):010d}", data, w, h, fmt,
                     caption_of(int(ph)), int(ph)))
    return pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h",
                                       "fmt", "caption", "phash"])


IMAGES_SCHEMA = ("image_id string, bytes binary, w int, h int, "
                 "fmt string, caption string, phash long")


def generate_df(spark: SparkSession, n: int, rows_per_task: int, batch,
                schema) -> DataFrame:
    """Distributed generator: the driver plans index ranges, executors
    build ``batch(start, end)`` columns of ``schema`` — no data ever
    moves through the driver."""
    bounds = [(i, min(i + rows_per_task, n)) for i in range(0, n, rows_per_task)]
    splits = spark.createDataFrame(bounds, "start long, end long") \
        .repartition(len(bounds), "start")

    def gen(batches):
        for rb in batches:
            for a, b in zip(*rb.to_pydict().values()):
                yield batch(a, b)

    return local.map_arrow(splits, gen, schema)


def generate_images_df(spark: SparkSession, n: int,
                       rows_per_task: int = 20_000) -> DataFrame:
    return generate_df(spark, n, rows_per_task, generate_batch,
                       IMAGES_SCHEMA)


def write_images_table(spark: SparkSession, path: str, n: int,
                       n_buckets: int = 16) -> None:
    """Materialize as parquet partitioned by bucket(phash) — the Iceberg
    partition-spec stand-in (bucket pruning + balanced file sizes)."""
    from pyspark.sql import functions as F
    df = generate_images_df(spark, n)
    (df.withColumn("bucket", F.pmod(F.col("phash"), F.lit(n_buckets)))
       .write.mode("overwrite").partitionBy("bucket").parquet(path))


def write_points_table(spark: SparkSession, path: str, n: int,
                       rows_per_task: int = 250_000) -> None:
    """The (idx, phash) projection of the conceptual n-row images table.

    ``phash`` is exactly what ``generate_batch`` assigns (splitmix64 of
    the row index; consistency asserted in tests), so this is the
    column-pruned scan a 10^12-row job would read — without materializing
    petabytes of pixels.  Used by the bench headline at scale factors
    where encoding real PNGs for every row is pointless I/O.
    """
    def batch(start: int, end: int) -> dict:
        idx = np.arange(start, end, dtype=np.int64)
        return {"idx": idx, "phash": splitmix64(idx).view(np.int64)}

    generate_df(spark, n, rows_per_task, batch, "idx long, phash long") \
        .write.mode("overwrite").parquet(path)


def geotag_images(df: DataFrame) -> DataFrame:
    """E2: phash-salted deterministic lon/lat columns (vectorized, no
    per-row Python)."""
    from pyspark.sql import types as T
    schema = T.StructType(df.schema.fields +
                          [T.StructField("lon", T.DoubleType()),
                           T.StructField("lat", T.DoubleType())])

    def tag(batches):
        for rb in batches:
            lon, lat = lonlat_np(
                rb.column("phash").to_numpy(zero_copy_only=False))
            yield {**dict(zip(rb.schema.names, rb.columns)),
                   "lon": lon, "lat": lat}

    return local.map_arrow(df, tag, schema)


def spread_python_scan(df: DataFrame, factor: int = 1) -> DataFrame:
    """Repartition a SMALL scan feeding a CPU-bound Python stage so the
    decode work uses every core (r6, guide §2/§4): input bytes are a bad
    proxy for decode cost — a ~20 MB gate corpus is ONE split at the
    default ``maxPartitionBytes``, serializing thousands of per-row
    decodes onto a single task.  A scan already at least ``factor``×
    default-parallelism wide keeps its layout (no shuffle at scale,
    where file counts provide the parallelism); the stages this feeds
    are deterministic per-row maps, so the round-robin repartition
    (sort-before-repartition stays on) cannot change any result."""
    from pyspark.sql import functions as F
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        # hash-partition on the row key: deterministic, and unlike a
        # round-robin repartition it skips the local sort-before-
        # repartition pass over the binary payload column
        return df.repartition(target, F.col(df.columns[0]))
    return df


def check_invariants(df: DataFrame) -> DataFrame:
    """E13: per-row decoded-pixel + caption invariant (input_hint).

    Every row decodes with its real codec and compares against the
    regenerated reference pixels.  PNG is lossless ⇒ exact match
    (PSNR ∞); JPEG is genuinely lossy ⇒ PSNR ≥ 40 dB is the bound the
    generator's quality setting must clear.  Returns
    (image_id, fmt, pixels_ok, psnr_db, caption_ok).
    """
    def check(batches):
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            phash, ws, hs = (rb.column(c).to_numpy(zero_copy_only=False)
                             .astype(np.int64) for c in ("phash", "w", "h"))
            fmts = rb.column("fmt").to_numpy(zero_copy_only=False)
            # batched caption twin: ONE splitmix64 pass over the column
            # (identical algebra to caption_of — h is the uint64 mix,
            # word picks shift/mod it), then a per-row string compare
            hv = splitmix64(phash)
            nw = len(_WORDS)
            caps = rb.column("caption").to_pylist()
            cap_oks = [
                " ".join(_WORDS[(int(h) >> (5 * k)) % nw]
                         for k in range(6)) == c
                for h, c in zip(hv, caps)]
            # batched reference regen per (w, h) group for the noise-
            # field rows: one 2D splitmix64 stream instead of a numpy
            # round-trip per row (bytes per row are identical to
            # pixels_from_phash — same uint64 wrap, same LE byte view)
            refs: list = [None] * n
            std = fmts != "jpegp"
            for w, h in {(int(a), int(b))
                         for a, b in zip(ws[std], hs[std])}:
                sel = np.nonzero(std & (ws == w) & (hs == h))[0]
                nb = (w * h * 3 + 7) // 8
                base = (phash[sel].view(np.uint64)[:, None]
                        + np.arange(nb, dtype=np.uint64)[None, :])
                pix = splitmix64(base.view(np.int64)) \
                    .view(np.uint8).reshape(len(sel), nb * 8)
                for j, i in enumerate(sel):
                    refs[i] = pix[j, :w * h * 3].reshape(h, w, 3)
            psnrs = []
            for i, r in enumerate(rb.to_pylist()):
                ref = refs[i] if refs[i] is not None else \
                    pixels_lowfreq_from_phash(int(r["phash"]), int(r["w"]),
                                              int(r["h"]))
                got = decode_image(r["bytes"], r["fmt"])
                mse = float(np.mean((got.astype(np.float64) - ref) ** 2))
                psnrs.append(float("inf") if mse == 0 else
                             10.0 * np.log10(255.0 ** 2 / mse))
            psnr = np.asarray(psnrs)
            yield {"image_id": rb.column("image_id"),
                   "fmt": rb.column("fmt"),
                   "pixels_ok": psnr >= 40.0, "psnr_db": psnr,
                   "caption_ok": cap_oks}

    return local.map_arrow(
        spread_python_scan(df), check, "image_id string, fmt string, "
        "pixels_ok boolean, psnr_db double, caption_ok boolean")


VIDEOS_SCHEMA = ("video_id string, bytes binary, n_frames int, w int, "
                 "h int, fmt string, phash long")


def generate_videos_batch(start: int, end: int) -> pd.DataFrame:
    """Deterministic MJPEG-AVI video rows [start, end): frame ``fi`` of
    video ``i`` is ``pixels_from_phash(phash + fi)`` — the same
    regenerate-from-phash invariant discipline as the image table, so
    sampled frames can be verified without stored ground truth."""
    from .video_codec import encode_avi_mjpeg

    idx = np.arange(start, end, dtype=np.int64)
    phash = splitmix64(idx).view(np.int64)
    n_frames = (6 + (np.abs(phash) % 10)).astype(np.int64)   # 6..15
    rows = []
    w = h = 16
    for i, ph, nf in zip(idx, phash, n_frames):
        frames = [pixels_from_phash(int(ph) + fi, w, h)
                  for fi in range(int(nf))]
        data = encode_avi_mjpeg(frames, quality=JPEG_QUALITY)
        rows.append((f"vid-{int(i):010d}", data, int(nf), w, h,
                     "avi-mjpeg", int(ph)))
    return pd.DataFrame(rows, columns=["video_id", "bytes", "n_frames",
                                       "w", "h", "fmt", "phash"])


def generate_videos_df(spark: SparkSession, n: int,
                       rows_per_task: int = 100) -> DataFrame:
    return generate_df(spark, n, rows_per_task, generate_videos_batch,
                       VIDEOS_SCHEMA)


def png_header(data: bytes) -> dict:
    """Header-only PNG metadata from the IHDR chunk (signature + first
    chunk — 33 bytes), mirroring :func:`jpeg_codec.jpeg_header`.
    ``n_comps`` derives from the color type; ``progressive`` maps the
    Adam7 interlace flag so the column means "multi-pass stream" for
    both formats."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    if data[12:16] != b"IHDR":
        raise ValueError("first chunk is not IHDR")
    w, h, depth, ctype, _comp, _filt, interlace = struct.unpack_from(
        ">IIBBBBB", data, 16)
    n_comps = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if n_comps is None:
        raise ValueError(f"unknown PNG color type {ctype}")
    return {"w": w, "h": h, "n_comps": n_comps,
            "progressive": interlace == 1, "max_h": 1, "max_v": 1}
