"""Binary / multimodal columns (S8/S9 + the multimodal LLM-pipeline
extension): images and video as opaque binary columns with typed
metadata, processed by Arrow-batched UDFs.

Reference: jpegs in folders keyed `{post_id}_{shortcode}.jpg`
(`InstagramImageScraper.py:107`), scanned with `os.listdir`
(`ImageLabeler.py:129-131`). Engine: `binaryFile` scan → BinaryType
column; decode/feature steps are mapInPandas over dependency-free
codecs (ppm/bmp/png here; jpeg, gif, webp, tiff and avi in sibling
modules). Lossy webp and inter-frame video stay documented
NotImplementedError boundaries (`decode_image_stub`,
`sample_video_frames_stub`) — swap the codec fn, keep the operator.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_binary_folder(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """S9: folder of binary files → (path, image, length, content).

    `image` is the filename — the join key back to post tables (J5).
    """
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select(
            F.col("path"),
            F.element_at(F.split(F.col("path"), "/"), -1).alias("image"),
            F.col("length"),
            F.col("content"),
        )
    )
    return df


IMAGE_META = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _sniff_format(b: bytes) -> str:
    if b[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        return "webp"
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "wav"
    if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        return "avi"
    if b[:9] == b"YUV4MPEG2":
        return "y4m"
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    return "unknown"


def _png_dims(b: bytes) -> tuple[int | None, int | None]:
    # IHDR is always first: width/height big-endian at bytes 16..24
    if len(b) >= 24:
        return int.from_bytes(b[16:20], "big"), int.from_bytes(b[20:24], "big")
    return None, None


def _jpeg_dims(b: bytes) -> tuple[int | None, int | None]:
    # walk JFIF segments to the first SOFn marker
    i = 2
    while i + 9 < len(b):
        if b[i] != 0xFF:
            return None, None
        marker = b[i + 1]
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h = int.from_bytes(b[i + 5 : i + 7], "big")
            w = int.from_bytes(b[i + 7 : i + 9], "big")
            return w, h
        i += 2 + seg_len
    return None, None


def image_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Real (dependency-free) metadata decode: format sniff + dimension
    parse for png/jpeg headers — everything downstream (filtering by
    size/format, partitioning by format) works on actual values."""

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for b in pdf[content_col]:
                b = bytes(b)
                fmt = _sniff_format(b)
                w = h = None
                if fmt == "png":
                    w, h = _png_dims(b)
                elif fmt == "jpeg":
                    w, h = _jpeg_dims(b)
                elif fmt == "y4m":
                    try:
                        params, _ = _parse_y4m_header(b)
                        w, h = params["W"], params["H"]
                    except (ValueError, KeyError):
                        pass
                metas.append({"format": fmt, "width": w, "height": h, "n_bytes": len(b)})
            out = pdf.drop(columns=[content_col])
            out["meta"] = metas
            yield out

    schema = T.StructType(
        [f for f in df.schema.fields if f.name != content_col] + [T.StructField("meta", IMAGE_META)]
    )
    return df.mapInPandas(_meta, schema)


# ---------------------------------------------------------------------------
# real pixel codecs (dependency-free: stdlib zlib + numpy only)
#
# PPM(P6), BMP(24bpp BI_RGB) and PNG(8-bit RGB/RGBA, non-interlaced, all
# five scanline filters) decode to real pixel tensors; PPM encodes back.
# The entropy-coded formats dispatch to their own modules below.
# ---------------------------------------------------------------------------


def _decode_ppm(b: bytes):
    # P6 header: magic, whitespace/comments, width, height, maxval, then
    # a single whitespace byte and raw RGB triples
    if b[:2] != b"P6":
        raise ValueError("not a P6 ppm")
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        while i < len(b) and b[i : i + 1].isspace():
            i += 1
        if b[i : i + 1] == b"#":
            while i < len(b) and b[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(b) and not b[j : j + 1].isspace():
            j += 1
        fields.append(int(b[i:j]))
        i = j
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit ppm not supported")
    i += 1  # the single whitespace after maxval
    import numpy as np

    px = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=i)
    return w, h, 3, px


def _decode_bmp(b: bytes):
    import numpy as np

    if b[:2] != b"BM":
        raise ValueError("not a bmp")
    off = int.from_bytes(b[10:14], "little")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    compression = int.from_bytes(b[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24bpp bmp supported (bpp={bpp})")
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    rows = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=off).reshape(
        h, stride
    )[:, : w * 3]
    if not top_down:
        rows = rows[::-1]
    rgb = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    return w, h, 3, rgb.reshape(-1).copy()


def _png_unfilter(raw: bytes, w: int, h: int, channels: int):
    import numpy as np

    bpp = channels  # bytes per pixel at bit depth 8
    stride = w * channels
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).copy()
        pos += 1 + stride
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:  # None
            out[y] = line
        elif ftype == 2:  # Up
            out[y] = line + prev
        elif ftype in (1, 3, 4):  # Sub/Average/Paeth: left-sequential
            cur = out[y]
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                bb = int(prev[x])
                if ftype == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (line[x] + ((a + bb) >> 1)) & 0xFF
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + bb - c
                    pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else c)
                    cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown png filter {ftype}")
    return out.reshape(-1)


def _decode_png(b: bytes):
    import zlib

    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a png")
    w, h = _png_dims(b)
    bit_depth, color_type, interlace = b[24], b[25], b[28]
    if bit_depth != 8 or interlace != 0 or color_type not in (2, 6):
        raise ValueError(
            "only 8-bit non-interlaced RGB/RGBA png supported "
            f"(depth={bit_depth}, color={color_type}, interlace={interlace})"
        )
    channels = 3 if color_type == 2 else 4
    idat = bytearray()
    i = 8
    while i + 8 <= len(b):
        seg_len = int.from_bytes(b[i : i + 4], "big")
        tag = b[i + 4 : i + 8]
        if tag == b"IDAT":
            idat += b[i + 8 : i + 8 + seg_len]
        if tag == b"IEND":
            break
        i += 12 + seg_len  # len + tag + data + crc
    raw = zlib.decompress(bytes(idat))
    return w, h, channels, _png_unfilter(raw, w, h, channels)


def _decode_jpeg(b: bytes):
    # lazy import: the jpeg module pulls in its table-building code
    from social_media_data_pipeline_spark.sources.jpeg import decode_jpeg

    return decode_jpeg(b)


def _decode_gif(b: bytes):
    from social_media_data_pipeline_spark.sources.gif import decode_gif

    return decode_gif(b)


def _decode_webp(b: bytes):
    # lossless VP8L decodes for real; lossy VP8 raises the documented
    # NotImplementedError codec boundary from inside decode_webp
    from social_media_data_pipeline_spark.sources.webp import decode_webp

    return decode_webp(b)


def _decode_tiff(b: bytes):
    from social_media_data_pipeline_spark.sources.tiff import decode_tiff

    return decode_tiff(b)


_PIXEL_DECODERS = {
    "ppm": _decode_ppm,
    "bmp": _decode_bmp,
    "png": _decode_png,
    "jpeg": _decode_jpeg,
    "gif": _decode_gif,
    "webp": _decode_webp,
    "tiff": _decode_tiff,
}


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal 8-bit RGB PNG encoder (zlib, filter 0 per scanline) —
    the write-side twin of `_decode_png`, used by the analytics PNG
    renderer so chart artifacts need no imaging library."""
    import struct
    import zlib

    if len(rgb) != width * height * 3:
        raise ValueError("rgb buffer does not match dimensions")

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    stride = width * 3
    raw = b"".join(
        b"\x00" + rgb[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal lossless RGB container (P6) — the dependency-free way to
    round-trip pixels back into a binary column."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb buffer does not match dimensions")
    return b"P6\n%d %d\n255\n" % (width, height) + bytes(rgb)


def _sniff_pixel_format(b: bytes) -> str:
    if b[:2] == b"P6":
        return "ppm"
    if b[:2] == b"BM":
        return "bmp"
    return _sniff_format(b)


DECODED_IMAGE = T.StructType(
    [
        T.StructField("image", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("pixels", T.ArrayType(T.ShortType())),
    ]
)


def decode_image(
    df: DataFrame, content_col: str = "content", key_col: str = "image"
) -> DataFrame:
    """Multimodal decode: binary column → row-major pixel tensor
    (width, height, channels, flat uint8 values as array<smallint>).

    Real decode for ppm/bmp/png/gif/lossless-webp and jpeg — both
    baseline AND progressive/SOF2 (pure stdlib+numpy — see module
    codecs and `sources/jpeg.py`); formats that still need an external
    codec (lossy-webp/VP8) raise per-batch with a clear message rather
    than silently passing through — route those through a
    library-backed decoder with the SAME mapInPandas signature.
    Arrow-batched; one output row per image; partitioning is whatever
    the binaryFile scan produced (size-based splits).
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for key, buf in zip(pdf[key_col], pdf[content_col]):
                b = bytes(buf)
                fmt = _sniff_pixel_format(b)
                dec = _PIXEL_DECODERS.get(fmt)
                if dec is None:
                    raise NotImplementedError(
                        f"{key}: pixel decode for '{fmt}' needs a codec "
                        "library; supported dependency-free: ppm/bmp/png"
                    )
                w, h, c, px = dec(b)
                rows.append(
                    {
                        "image": key,
                        "format": fmt,
                        "width": w,
                        "height": h,
                        "channels": c,
                        "pixels": px.astype("int16"),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in DECODED_IMAGE.fields])

    return df.mapInPandas(_decode, DECODED_IMAGE)


def resize_image(
    df: DataFrame,
    width: int,
    height: int,
    content_col: str = "content",
    key_col: str = "image",
) -> DataFrame:
    """Multimodal resize: binary in → binary out (nearest-neighbor via
    numpy index maps; output re-encoded as lossless P6 ppm, dimensions
    recorded alongside). Same binary→binary plumbing as
    `ml.inference.anonymize_images`; RGBA flattens to RGB."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("image", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for key, buf in zip(pdf[key_col], pdf[content_col]):
                b = bytes(buf)
                fmt = _sniff_pixel_format(b)
                dec = _PIXEL_DECODERS.get(fmt)
                if dec is None:
                    raise NotImplementedError(
                        f"{key}: resize needs pixel decode for '{fmt}' "
                        "(supported dependency-free: ppm/bmp/png)"
                    )
                w, h, c, px = dec(b)
                img = px.reshape(h, w, c)[:, :, :3]  # RGBA → RGB
                ys = np.minimum((np.arange(height) * h) // height, h - 1)
                xs = np.minimum((np.arange(width) * w) // width, w - 1)
                out = img[ys][:, xs]
                rows.append(
                    {
                        "image": key,
                        "width": width,
                        "height": height,
                        "content": encode_ppm(width, height, out.tobytes()),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return df.mapInPandas(_resize, schema)


def decode_image_stub(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Remaining entropy-coded format (LOSSY webp/VP8) — STUB: its
    pixel decode needs an imaging library absent from this container.
    `decode_image` IS the real implementation of this contract for
    ppm/bmp/png/gif/lossless-webp and jpeg incl. progressive
    (`sources/jpeg.py`, `sources/gif.py`, `sources/webp.py`); a
    VP8-capable codec plugs into the same mapInPandas signature.
    """
    raise NotImplementedError(
        "lossy-webp (VP8) pixel decode requires an imaging library "
        "(PIL/cv2) not present in this container; decode_image() covers "
        "ppm/bmp/png/gif/lossless-webp and baseline+progressive jpeg "
        "with the same contract, image_metadata() gives header-level "
        "decode"
    )


def sample_video_frames_stub(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Inter-frame video codecs (h264/vp9/av1) — STUB: they need a
    motion-compensation decoder (ffmpeg/pyav). `sample_video_frames`
    IS the real implementation of this contract for Y4M (uncompressed
    raw-plane video) AND MJPEG AVI (compressed, per-frame JPEG —
    `sources/avi.py` walks the RIFF container, `sources/jpeg.py`
    decodes the frames); an ffmpeg-backed decoder plugs into the same
    mapInPandas signature."""
    raise NotImplementedError(
        "inter-frame video (h264/vp9/av1) needs a codec (ffmpeg/pyav) "
        "not present in this container; sample_video_frames() covers "
        "Y4M and MJPEG-AVI with the same contract"
    )


# --- Y4M (YUV4MPEG2): plain-text header + uncompressed YUV planes -----------
# Public container (mjpegtools/ffmpeg interchange format):
#   "YUV4MPEG2 W<w> H<h> F<num>:<den> [I..] [A..] [C<colorspace>]\n"
#   then per frame: "FRAME[params]\n" + raw planes.
# Plane sizes: C420* → w*h*3/2, C422 → w*h*2, C444 → w*h*3, Cmono → w*h.

_Y4M_MAGIC = b"YUV4MPEG2"


def _parse_y4m_header(b: bytes) -> tuple[dict, int]:
    eol = b.index(b"\n")
    params: dict = {"C": "420"}  # spec default colorspace is 4:2:0
    for tok in b[len(_Y4M_MAGIC) : eol].split():
        key, val = chr(tok[0]), tok[1:].decode("ascii")
        if key == "W":
            params["W"] = int(val)
        elif key == "H":
            params["H"] = int(val)
        elif key == "F":
            num, den = val.split(":")
            params["fps"] = (int(num), int(den))
        elif key == "C":
            params["C"] = val
    if "W" not in params or "H" not in params:
        raise ValueError("y4m header missing W/H")
    return params, eol + 1


def _y4m_frame_size(w: int, h: int, colorspace: str) -> tuple[int, str]:
    if colorspace.startswith("420"):
        if w % 2 or h % 2:
            raise ValueError("C420 y4m requires even W and H (chroma is half-res)")
        return w * h + 2 * ((w // 2) * (h // 2)), "420"
    if colorspace.startswith("422"):
        if w % 2:
            raise ValueError("C422 y4m requires even W (chroma is half-width)")
        return w * h + 2 * ((w // 2) * h), "422"
    if colorspace.startswith("444"):
        return 3 * w * h, "444"
    if colorspace.startswith("mono"):
        return w * h, "mono"
    raise NotImplementedError(f"y4m colorspace C{colorspace} not supported")


def _yuv_to_rgb(y, cb, cr):
    """BT.601 limited-range integer conversion (the broadcast-video
    default Y4M carries), vectorized; output clipped uint8 HxWx3."""
    import numpy as np

    y = y.astype(np.int32) - 16
    cb = cb.astype(np.int32) - 128
    cr = cr.astype(np.int32) - 128
    r = (298 * y + 409 * cr + 128) >> 8
    g = (298 * y - 100 * cb - 208 * cr + 128) >> 8
    b = (298 * y + 516 * cb + 128) >> 8
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def _decode_y4m_frames(b: bytes, every_n: int):
    """Yield (frame_idx, width, height, rgb_uint8_HxWx3) for frames
    0, every_n, 2*every_n, ... Non-sampled frames are SKIPPED without
    conversion — only the plane slice arithmetic touches them."""
    import numpy as np

    params, off = _parse_y4m_header(b)
    w, h = params["W"], params["H"]
    frame_bytes, family = _y4m_frame_size(w, h, params["C"])
    idx = 0
    while off < len(b):
        eol = b.index(b"\n", off)
        if not b[off:eol].startswith(b"FRAME"):
            raise ValueError(f"bad y4m frame marker at byte {off}")
        data_start = eol + 1
        off = data_start + frame_bytes
        if idx % every_n == 0:
            raw = np.frombuffer(b[data_start:off], dtype=np.uint8)
            y = raw[: w * h].reshape(h, w)
            if family == "mono":
                rgb = np.repeat(y[:, :, None], 3, axis=2)  # Y is full-range
            else:
                if family == "420":
                    cw, ch = w // 2, h // 2
                elif family == "422":
                    cw, ch = w // 2, h
                else:
                    cw, ch = w, h
                cb = raw[w * h : w * h + cw * ch].reshape(ch, cw)
                cr = raw[w * h + cw * ch :].reshape(ch, cw)
                # nearest-neighbor chroma upsample to full resolution
                cb = np.repeat(np.repeat(cb, h // ch, axis=0), w // cw, axis=1)
                cr = np.repeat(np.repeat(cr, h // ch, axis=0), w // cw, axis=1)
                rgb = _yuv_to_rgb(y, cb, cr)
            yield idx, w, h, rgb
        idx += 1


def encode_y4m(width: int, height: int, rgb_frames, colorspace: str = "444") -> bytes:
    """Test/round-trip helper: RGB uint8 frames → Y4M bytes (BT.601
    limited-range, C444 by default so no chroma subsampling loss;
    Cmono stores the R channel as full-range Y, exactly)."""
    import numpy as np

    out = bytearray(
        b"YUV4MPEG2 W%d H%d F30:1 Ip A1:1 C%s\n" % (width, height, colorspace.encode())
    )
    for frame in rgb_frames:
        img = np.asarray(frame, dtype=np.uint8).reshape(height, width, 3)
        out += b"FRAME\n"
        if colorspace.startswith("mono"):
            out += img[:, :, 0].tobytes()
            continue
        r, g, b = (img[:, :, i].astype(np.int32) for i in range(3))
        y = ((66 * r + 129 * g + 25 * b + 128) >> 8) + 16
        cb = ((-38 * r - 74 * g + 112 * b + 128) >> 8) + 128
        cr = ((112 * r - 94 * g - 18 * b + 128) >> 8) + 128
        planes = [y, cb, cr]
        if colorspace.startswith("420"):
            planes = [y] + [p[::2, ::2] for p in (cb, cr)]
        elif colorspace.startswith("422"):
            planes = [y] + [p[:, ::2] for p in (cb, cr)]
        for p in planes:
            out += np.clip(p, 0, 255).astype(np.uint8).tobytes()
    return bytes(out)


VIDEO_FRAMES = T.StructType(
    [
        T.StructField("video", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_video_frames(
    df: DataFrame,
    every_n: int = 30,
    content_col: str = "content",
    key_col: str = "video",
) -> DataFrame:
    """Multimodal frame sampling, real for Y4M (uncompressed) and
    MJPEG AVI (compressed): binary video column → one row per sampled
    frame (video, frame_idx, width, height, frame), frame re-encoded as
    lossless P6 ppm — directly consumable by `decode_image` /
    `resize_image` / the F3-F5 inference stages.

    Reference parity: the scraper stores stills only; this is the video
    analog of its image bronze layer, built for training-data pipelines
    (frame extraction feeding dedup/labeling). mapInPandas streams Arrow
    batches, so one multi-GB video per task is the unit of parallelism —
    partitioning comes from the binaryFile scan's size-based splits;
    non-sampled frames are skipped by offset arithmetic, never decoded.
    """

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for key, buf in zip(pdf[key_col], pdf[content_col]):
                b = bytes(buf)
                if b.startswith(_Y4M_MAGIC):
                    frames = _decode_y4m_frames(b, every_n)
                elif b[:4] == b"RIFF" and b[8:12] == b"AVI ":
                    from social_media_data_pipeline_spark.sources.avi import (
                        decode_avi_mjpeg_frames,
                    )

                    frames = decode_avi_mjpeg_frames(b, every_n)
                else:
                    raise NotImplementedError(
                        f"{key}: not a Y4M or MJPEG-AVI stream — "
                        "inter-frame codecs need ffmpeg/pyav (see "
                        "sample_video_frames_stub)"
                    )
                for idx, w, h, rgb in frames:
                    rows.append(
                        {
                            "video": key,
                            "frame_idx": idx,
                            "width": w,
                            "height": h,
                            "frame": encode_ppm(w, h, rgb.tobytes()),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in VIDEO_FRAMES.fields])

    return df.mapInPandas(_sample, VIDEO_FRAMES)


def read_archive_members(
    spark: SparkSession,
    path: str,
    glob: str = "*",
    member_glob: str = "*",
) -> DataFrame:
    """Archive-shard ingestion: a binaryFile scan of .zip / .tar /
    .tar.gz shards, exploded to one row per member file —
    (archive, member, length, content). Scraped dumps ship as archives
    of many small files; reading them member-by-member through the
    archive (stdlib zipfile/tarfile inside the Arrow-batched map)
    avoids the small-files problem entirely: the SHARD is the task
    unit, exactly like the WARC reader (`sources/warc.py`). Members
    filter with a glob BEFORE extraction so unwanted payload bytes are
    never inflated.
    """
    import fnmatch
    import io as _io
    import tarfile
    import zipfile

    files = (
        spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    ).select("path", "content")

    def _explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path_, content in zip(pdf["path"], pdf["content"]):
                blob = bytes(content)
                name = path_.rsplit("/", 1)[-1]
                buf = _io.BytesIO(blob)
                if blob[:4] == b"PK\x03\x04":
                    with zipfile.ZipFile(buf) as zf:
                        for info in zf.infolist():
                            if info.is_dir():
                                continue
                            if not fnmatch.fnmatch(info.filename, member_glob):
                                continue
                            data = zf.read(info)
                            rows.append(
                                {
                                    "archive": name,
                                    "member": info.filename,
                                    "length": len(data),
                                    "content": data,
                                }
                            )
                else:
                    # tarfile sniffs plain/gz/bz2/xz itself
                    try:
                        tf = tarfile.open(fileobj=buf)
                    except tarfile.TarError as e:
                        raise ValueError(f"{name}: not a zip or tar archive") from e
                    with tf:
                        for info in tf:
                            if not info.isfile():
                                continue
                            if not fnmatch.fnmatch(info.name, member_glob):
                                continue
                            data = tf.extractfile(info).read()
                            rows.append(
                                {
                                    "archive": name,
                                    "member": info.name,
                                    "length": len(data),
                                    "content": data,
                                }
                            )
            yield pd.DataFrame(
                rows, columns=["archive", "member", "length", "content"]
            )

    schema = T.StructType(
        [
            T.StructField("archive", T.StringType()),
            T.StructField("member", T.StringType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    return files.mapInPandas(_explode, schema)
