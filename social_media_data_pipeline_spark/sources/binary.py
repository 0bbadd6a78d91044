"""Binary columns (S8/S9): files as opaque binary columns.

Reference: jpegs in folders keyed `{post_id}_{shortcode}.jpg`
(`InstagramImageScraper.py:107`), scanned with `os.listdir`
(`ImageLabeler.py:129-131`). Engine: `binaryFile` scan → BinaryType
column. The image stages hand the bytes to their model backends, so no
pixel codec lives here; `encode_png` is the one writer the chart
renderer needs, and `read_archive_members` explodes zip/tar shards.
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


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal 8-bit RGB PNG encoder (zlib, filter 0 per scanline),
    used by the analytics PNG renderer so chart artifacts need no
    imaging library."""
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
