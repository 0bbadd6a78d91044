"""Tests: archive-shard ingestion (`binary.read_archive_members`) —
zip and tar.gz shards exploded to member rows, member-glob filtering,
composition with the image stages and error reporting."""

from __future__ import annotations

import io
import tarfile
import zipfile

import pytest

from social_media_data_pipeline_spark.sources import binary


def _zip_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return buf.getvalue()


def _targz_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        for name, data in members.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


class TestArchiveSource:
    def test_zip_and_targz_members(self, spark, tmp_path):
        (tmp_path / "a.zip").write_bytes(
            _zip_bytes({"docs/one.txt": b"alpha", "docs/two.txt": b"beta beta"})
        )
        (tmp_path / "b.tar.gz").write_bytes(
            _targz_bytes({"three.txt": b"gamma", "img/x.bin": b"\x00\x01"})
        )
        df = binary.read_archive_members(spark, str(tmp_path))
        rows = {(r["archive"], r["member"]): bytes(r["content"]) for r in df.collect()}
        assert rows[("a.zip", "docs/one.txt")] == b"alpha"
        assert rows[("b.tar.gz", "three.txt")] == b"gamma"
        assert len(rows) == 4

    def test_member_glob_prefilters(self, spark, tmp_path):
        (tmp_path / "a.zip").write_bytes(
            _zip_bytes({"one.txt": b"x", "two.ppm": b"P6 junk", "sub/three.txt": b"y"})
        )
        df = binary.read_archive_members(spark, str(tmp_path), member_glob="*.txt")
        assert {r["member"] for r in df.collect()} == {"one.txt", "sub/three.txt"}

    def test_composes_with_image_decode(self, spark, tmp_path):
        # a zip of images flows straight into the F3 labeling step, where
        # the model backend decodes the pixels: each member's bytes must
        # label exactly as the same bytes read from a loose file would
        from social_media_data_pipeline_spark.ml import inference, models

        imgs = {"r.ppm": b"P6\n2 1\n255\n" + bytes([255, 0, 0, 0, 255, 0]),
                "g.ppm": b"P6\n1 1\n255\n" + bytes([0, 255, 0])}
        (tmp_path / "imgs.zip").write_bytes(_zip_bytes(imgs))
        members = binary.read_archive_members(spark, str(tmp_path))
        got = inference.label_images(
            members, models.StubSceneLabeler, image_col="member"
        ).collect()
        loose = spark.createDataFrame(list(imgs.items()), "image string, content binary")
        want = inference.label_images(loose, models.StubSceneLabeler).collect()
        assert len(got) == 2
        assert {r.image: r.predictions for r in got} == {
            r.image: r.predictions for r in want
        }

    def test_non_archive_reported(self, spark, tmp_path):
        (tmp_path / "bad.zip").write_bytes(b"this is not an archive at all")
        with pytest.raises(Exception, match="not a zip or tar"):
            binary.read_archive_members(spark, str(tmp_path)).collect()
