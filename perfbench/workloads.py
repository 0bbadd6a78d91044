"""The benchmark workloads.

Each workload is closed loop with one client thread. ``prepare`` makes
the seeded inputs once per run (outside any timed region); ``run`` times
one fixed pass in a fresh session and checks every output after the
timed region. An operation is the workload's unit of user-visible work:

- post_pipeline: one run of the reference-parity stage pipeline,
  scrape → flatten → preprocess → explore → translate → image ML, in a
  fresh session (``PipelineRunner.run`` over ``default_registry()``).
- stream_curation: one micro-batch through ``streaming.curation.curate_batch``
  with a label store; a pass is a whole ordered stream in a fresh session.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from tracing import tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Outcome:
    """What one phase of a workload measured."""

    latencies: list[float] = field(default_factory=list)  # seconds per operation
    cpu: list[float] = field(default_factory=list)  # CPU seconds per operation
    items: int = 0  # input items the timed operations completed
    attempted: int = 0  # operations + output checks
    failed: int = 0  # raised, non-Success or mismatched
    detail: dict = field(default_factory=dict)  # workload-named end-to-end metrics
    layer: dict = field(default_factory=dict)  # workload-specific per-layer values
    # left registered after the last timed region: cached tables and
    # persisted RDDs (local checkpoints included); leaked is their sum
    cached_tables: int = 0
    persistent_rdds: int = 0
    leaked: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


def generate(bench, kind: str, out: str) -> dict:
    """Run the seeded generator in its own process."""
    cmd = [sys.executable, os.path.join(HERE, "inputs.py"), kind,
           "--seed", str(bench.seed), "--out", out]
    res = subprocess.run(cmd, check=True, capture_output=True, text=True, env=bench.env)
    return json.loads(res.stdout.strip().splitlines()[-1])


def parquet_files(path: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(path):
        out += [os.path.join(dirpath, f) for f in files
                if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return sorted(out)


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))


def read_columns(files: list[str], columns: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    rows: list[tuple] = []
    for f in files:
        t = pq.read_table(f, columns=columns).to_pydict()
        rows += list(zip(*(t[c] for c in columns)))
    return rows


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


# --------------------------------------------------------- post_pipeline

TERMS = ("kelvingrove", "modernart", "riverside")
DATASET = "Glasgow_Kelvingrove"


class PostPipeline:
    name = "post_pipeline"

    def prepare(self, bench) -> None:
        self.inp = os.path.join(bench.work, "posts")
        self.info = generate(bench, "posts", self.inp)
        with open(os.path.join(self.inp, "feed_pages.json")) as f:
            self.pages = json.load(f)
        self.expected_preprocessed = self._recount(self.pages)
        self.images = sorted(os.listdir(os.path.join(self.inp, "images")))

    @staticmethod
    def _recount(pages: dict) -> int:
        """Plain-Python replay of scrape dedup (id, shortcode) → shortcode
        first-wins by (timestamp, id) → images only → 2010 <= year < 2020."""
        import datetime as dt

        items = {}
        for term_pages in pages.values():
            for page in term_pages:
                for it in page["items"]:
                    items[(it["id"], it["shortcode"])] = it
        first: dict[str, dict] = {}
        for it in items.values():
            cur = first.get(it["shortcode"])
            if cur is None or (it["timestamp"], it["id"]) < (cur["timestamp"], cur["id"]):
                first[it["shortcode"]] = it
        n = 0
        for it in first.values():
            year = dt.datetime.fromtimestamp(it["timestamp"], dt.timezone.utc).year
            n += (not it["is_video"]) and 2010 <= year < 2020
        return n

    def config(self, pass_dir: str) -> dict:
        from social_media_data_pipeline_spark.sources import rest

        img = os.path.join(self.inp, "images")
        client = rest.OfflineStubClient(pages=copy.deepcopy(self.pages))

        def stage(name, impl, inp, out, **params):
            return {"name": name, "implementation": impl, "input": inp, "output": out,
                    "enabled": True, "params": params}

        return {
            "dataset_name": DATASET,
            "skip_stage_if_exists": False,
            "stages": [
                stage("Feed Scrape", "InstagramFeedScraperStage", None, "posts",
                      terms=list(TERMS), client=client,
                      bronze_dir=os.path.join(pass_dir, "bronze")),
                stage("Post Flatten", "SourceStage", None, "posts_flat",
                      path=os.path.join(self.inp, "post_json"), scrape_name=DATASET),
                stage("Preprocessing", "PreprocessorStage", "posts", "posts_preprocessed",
                      dataset_name=DATASET, remove_duplicates=True, images_only=True,
                      year_filter=[2010, 2020], lowercase_hashtags=True,
                      max_images_per_year=-1),
                stage("Exploratory Analysis", "ExploratoryanalysisStage",
                      "posts_preprocessed", "exploratory_analysis"),
                stage("Translation", "TranslatorStage", "posts_preprocessed",
                      "posts_translated", target_column="caption", target_language="en"),
                stage("Image Labels", "ImageLabelerStage", None, "image_labels", image_dir=img),
                stage("Image Features", "ImageFeatureVectorStage", None, "image_features",
                      image_dir=img),
                stage("Image Anonymizer", "ImageAnonymizerStage", None, "images_anonymized",
                      image_dir=img),
            ],
        }

    @staticmethod
    def registry() -> dict:
        from social_media_data_pipeline_spark.plans.pipeline import SourceStage
        from social_media_data_pipeline_spark.plans.stages import default_registry
        from social_media_data_pipeline_spark.sources import json_flatten

        def flatten(spark, params):
            raw = json_flatten.read_post_json(spark, params["path"])
            return json_flatten.flatten_posts(raw, params["scrape_name"])

        reg = default_registry()
        reg["SourceStage"] = lambda params: SourceStage(flatten, params)
        return reg

    def run(self, bench) -> Outcome:
        from social_media_data_pipeline_spark.plans.pipeline import PipelineRunner

        out = Outcome()
        spark = bench.fresh_session()
        pass_dir = os.path.join(bench.work, f"pipeline_{bench.phase}")
        config = self.config(pass_dir)
        runner = PipelineRunner(spark, self.registry())
        with bench.op("bench.pipeline_run"):
            cpu = tree_cpu_s()
            t = time.perf_counter()
            results = runner.run(config, pass_dir)
            out.latencies.append(time.perf_counter() - t)
            out.cpu.append(tree_cpu_s() - cpu)
        out.items = self.info["feed_items"] + self.info["post_documents"] + len(self.images)
        bench.leak_probe(out)
        for r in results:
            out.attempted += 1
            out.layer[f"plans.stage_s.{r.implementation}"] = r.execution_time or 0.0
            if r.result != "Success":
                out.fail(f"stage {r.name}: {r.result}")
        self.check(os.path.join(pass_dir, DATASET), out)
        shutil.rmtree(pass_dir, ignore_errors=True)
        out.detail = {"makespan_s": out.latencies[0]}
        return out

    def check(self, ds: str, out: Outcome) -> None:
        out.attempted += 3
        got = parquet_rows(os.path.join(ds, "posts_preprocessed"))
        if got != self.expected_preprocessed:
            out.fail(f"preprocessed rows {got} != recount {self.expected_preprocessed}")
        for table in ("image_labels", "image_features"):
            names = [r[0] for r in read_columns(parquet_files(os.path.join(ds, table)), ["image"])]
            if sorted(names) != self.images:
                out.fail(f"{table}: {len(names)} rows for {len(self.images)} images")
        files = parquet_files(ds)
        out.layer["io.files_written"] = len(files)
        out.layer["io.bytes_written"] = sum(os.path.getsize(f) for f in files)
        out.layer["sources.rows_out"] = parquet_rows(os.path.join(ds, "posts")) + parquet_rows(
            os.path.join(ds, "posts_flat"))
        out.layer["translate_input_rows"] = got


# ------------------------------------------------------- stream_curation

class StreamCuration:
    name = "stream_curation"

    def prepare(self, bench) -> None:
        # two micro-batches: the first bootstraps the curated table and
        # the band store, the second upserts the curated table and starts
        # the label store
        inp = os.path.join(bench.work, "stream_in")
        self.planted = generate(bench, "stream", inp)["planted"]
        self.batch_paths = sorted(os.path.join(inp, f) for f in os.listdir(inp))

    def run(self, bench) -> Outcome:
        from social_media_data_pipeline_spark import scale as escale
        from social_media_data_pipeline_spark.functions import graph
        from social_media_data_pipeline_spark.streaming import curation

        out = Outcome()
        pairs: list[tuple] = []
        capture_s = [0.0, 0.0]  # wall and CPU seconds of the pair capture
        upsert_rows = 0  # rows committed through upserts (not plain first writes)
        original = graph.incremental_components

        def capture(labels, new_pairs, *args, **kwargs):
            # record every flagged pair for the final check; the collect
            # reads the already-materialized pairs and is not timed
            t, cpu = time.perf_counter(), tree_cpu_s()
            sc = new_pairs.sparkSession.sparkContext
            group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup("bench.check", "pair capture")
            pairs.extend(tuple(r) for r in new_pairs.collect())
            sc.setLocalProperty("spark.jobGroup.id", group)
            capture_s[0] += time.perf_counter() - t
            capture_s[1] += tree_cpu_s() - cpu
            return original(labels, new_pairs, *args, **kwargs)

        graph.incremental_components = capture
        try:
            spark = bench.fresh_session()
            store = os.path.join(bench.work, f"stream_{bench.phase}")
            table, bands, labels = (os.path.join(store, x) for x in ("curated", "bands", "labels"))
            for path in self.batch_paths:
                batch = spark.read.parquet(path)
                had = (os.path.exists(table), os.path.exists(labels))
                out.attempted += 1
                capture_s[:] = [0.0, 0.0]
                try:
                    with bench.op("bench.micro_batch"):
                        cpu = tree_cpu_s()
                        t = time.perf_counter()
                        counts = curation.curate_batch(spark, batch, table, bands, labels_path=labels)
                        out.latencies.append(time.perf_counter() - t - capture_s[0])
                        out.cpu.append(tree_cpu_s() - cpu - capture_s[1])
                except Exception as e:  # counted as a failed operation
                    out.fail(f"micro-batch {path}: {type(e).__name__}: {e}")
                    continue
                out.items += counts["batch"]
                out.detail.setdefault("batch_counts", []).append(counts)
                upsert_rows += counts["committed"] * had[0] + counts.get("labels_changed", 0) * had[1]
            bench.leak_probe(out)
            self.check(escale, table, labels, pairs, self.planted, out)
            shutil.rmtree(store, ignore_errors=True)
        finally:
            graph.incremental_components = original
        out.detail.update({
            "batch_p50_s": median(out.latencies),
            "docs_per_s": out.items / sum(out.latencies) if out.latencies else 0.0,
            "makespan_s": sum(out.latencies),
        })
        out.layer["upsert_committed_rows"] = upsert_rows
        return out

    @staticmethod
    def check(escale, table: str, labels: str, pairs: list, planted: list, out: Outcome) -> None:
        """The stream flags at least half of the planted near-duplicates
        (MinHash LSH finds each with high probability, not certainty);
        label store = connected components (min-id labels) over every
        flagged pair; curated doc_ids unique, none of them flagged."""
        out.attempted += 3
        flagged = {a for a, _b in pairs}
        caught = sum(doc in flagged for doc, _src in planted)
        out.detail["planted_flagged"] = f"{caught}/{len(planted)}"
        if 2 * caught < len(planted):
            out.fail(f"near-dedup flagged {caught} of {len(planted)} planted near-duplicates")
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {n: find(n) for n in list(parent)}
        got = (dict(read_columns(escale.live_files(labels), ["node", "component"]))
               if os.path.exists(labels) else {})
        if got != expected:
            out.fail(f"label store: {len(got)} labels, components over pairs give {len(expected)}")
        ids = ([r[0] for r in read_columns(escale.live_files(table), ["doc_id"])]
               if os.path.exists(table) else [])
        if len(ids) != len(set(ids)) or not ids or flagged & set(ids):
            out.fail(f"curated table: {len(ids)} rows, {len(set(ids))} distinct doc_ids, "
                     f"{len(flagged & set(ids))} of them flagged as near-duplicates")


WORKLOADS = {w.name: w for w in (PostPipeline, StreamCuration)}
