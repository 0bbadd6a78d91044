"""Which engine functions the traced run wraps, and how spans plus Spark
event-log work reduce to the per-layer metrics of BENCHMARK.json.

A metric named ``<module>.<function>_s`` is the inclusive time of the
wrapped calls per operation. Pipeline stage bodies only build lazy plans;
their Spark work runs when the runner writes the stage output, so the
lazy stage functions (preprocess, explore, translate, image ML) are
charged their own call plus the write of the stage that called them.
Spark work (jobs, tasks, CPU, bytes) is per operation of the traced phase
and counts only jobs launched inside an operation.
"""

from __future__ import annotations

import statistics

from tracing import SparkWork, Span, Tracer

PKG = "social_media_data_pipeline_spark"
OPS = ("bench.pipeline_run", "bench.micro_batch")
LAZY = {
    "preprocessing.preprocess_posts": "preprocessing.preprocess_posts_s",
    "analytics.explore": "analytics.explore_s",
    "nlp.translate_table": "nlp.translate_table_s",
    "ml.label": "ml.label_s",
    "ml.features": "ml.features_s",
    "ml.anonymize": "ml.anonymize_s",
}
TIMED = {  # span name → metric of its inclusive time per operation
    "sources.scrape": "sources.scrape_s",
    "sources.flatten": "sources.flatten_s",
    "sources.binary_read": "sources.binary_read_s",
    "io.write_stage_output": "io.write_stage_output_s",
    "io.pin_stats": "io.pin_s",
    "operators.dedup": "operators.dedup_s",
    "operators.aggregates": "operators.aggregates_s",
    "functions.graph.cc": "functions.graph.cc_s",
    "functions.sketches.lsh": "functions.sketches.lsh_s",
    "streaming.curate_batch": "streaming.curate_batch_s",
    "scale.selective_upsert": "scale.selective_upsert_s",
}
ML_STAGES = ("ImageLabelerStage", "ImageFeatureVectorStage", "ImageAnonymizerStage")


def install(tracer: Tracer) -> None:
    """Wrap the engine's public entry points, module by module."""
    import os

    from pyspark.sql import Observation

    from social_media_data_pipeline_spark import io as eio
    from social_media_data_pipeline_spark import nlp, preprocessing, scale
    from social_media_data_pipeline_spark.analytics import explore
    from social_media_data_pipeline_spark.functions import graph, sketches
    from social_media_data_pipeline_spark.ml import inference
    from social_media_data_pipeline_spark.plans import pipeline, stages
    from social_media_data_pipeline_spark.sources import binary, json_flatten, rest
    from social_media_data_pipeline_spark.streaming import curation

    w = tracer.wrap
    w(rest.CursorFeedSource, "scrape", "sources.scrape")
    w(json_flatten, "read_post_json", "sources.flatten")
    w(json_flatten, "flatten_posts", "sources.flatten")
    w(binary, "read_binary_folder", "sources.binary_read")
    w(eio, "pin_stats", "io.pin_stats")
    w(preprocessing, "preprocess_posts", "preprocessing.preprocess_posts")
    w(explore, "posts_per_period", "analytics.explore")
    w(explore, "hashtag_frequency", "analytics.explore")
    w(nlp, "translate_table", "nlp.translate_table")
    w(inference, "label_images", "ml.label")
    w(inference, "extract_features", "ml.features")
    w(inference, "anonymize_images", "ml.anonymize")
    for mod in ("dedup", "aggregates"):
        tracer.wrap_module(f"{PKG}.operators.{mod}", f"operators.{mod}")
    w(graph, "connected_components", "functions.graph.cc")
    w(sketches, "minhash_lsh_pairs", "functions.sketches.lsh")
    w(sketches, "minhash_band_table", "functions.sketches.lsh")
    w(curation, "curate_batch", "streaming.curate_batch")
    for cls in [*stages.default_registry().values(), pipeline.SourceStage]:
        w(cls, "run", f"plans.stage.{cls.__name__}")

    # the stage write, with the bytes it leaves behind
    original_write = eio.write_stage_output

    def write_stage_output(df, path, *args, **kwargs):
        with tracer.span("io.write_stage_output") as s:
            original_write(df, path, *args, **kwargs)
        s.attrs["bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
        )

    tracer.patch(eio, "write_stage_output", write_stage_output)

    # upserts: bytes of the files each commit adds, rows it writes
    original_upsert = scale.selective_upsert

    def selective_upsert(spark, path, *args, **kwargs):
        before = set(scale.live_files(path))
        with tracer.span("scale.selective_upsert") as s:
            res = original_upsert(spark, path, *args, **kwargs)
        s.attrs["bytes"] = sum(os.path.getsize(f) for f in scale.live_files(path) if f not in before)
        s.attrs["rows"] = res["rows_written"]
        return res

    tracer.patch(scale, "selective_upsert", selective_upsert)

    # connected-components rounds: one named Observation per round
    class RoundObservation(Observation):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            if args and str(args[0]).startswith("cc_round_"):
                tracer.counters["functions.graph.rounds"] += 1

    tracer.patch(graph, "Observation", RoundObservation)


def _nested_in(s: Span, name: str, by_id: dict) -> bool:
    p = s.parent
    while p is not None:
        if by_id[p].name == name:
            return True
        p = by_id[p].parent
    return False


def reduce(bench, out, base, tracer: Tracer, work: dict[str, SparkWork]) -> tuple[dict, dict]:
    """→ (per-layer metrics, additions to the detail record)."""
    by_all = {s.sid: s for s in tracer.spans}
    spans = [s for s in tracer.spans if by_all[tracer.ancestors(s.sid)[-1]].name in OPS]
    view = Tracer()
    view.spans = spans  # warm-up calls outside an operation are dropped
    by_id = {s.sid: s for s in spans}
    kids = view.children()
    ops = max(1, len(out.latencies))
    wall = sum(out.latencies)
    span_work = {int(g): w for g, w in work.items() if g.isdigit() and int(g) in by_id}

    def subtree(sid: int) -> SparkWork:
        acc = SparkWork()
        if sid in span_work:
            acc.add(span_work[sid])
        for c in kids.get(sid, ()):
            acc.add(subtree(c.sid))
        return acc

    def by_name(name: str) -> SparkWork:
        """Work under every outermost span of this name."""
        acc = SparkWork()
        for s in spans:
            if s.name == name and not _nested_in(s, name, by_id):
                acc.add(subtree(s.sid))
        return acc

    def stage_write(stage: Span) -> Span | None:
        sibs = sorted(kids.get(stage.parent, ()), key=lambda s: s.start)
        return next((s for s in sibs if s.name == "io.write_stage_output" and s.start >= stage.end),
                    None)

    m: dict[str, float] = {}
    totals = view.totals()
    counts = view.counts()
    for span, metric in TIMED.items():
        m[metric] = totals.get(span, 0.0) / ops

    # lazy stage functions: own call + the write of the calling stage
    charged: set[tuple[int, str]] = set()
    for metric in LAZY.values():
        m[metric] = 0.0
    for s in spans:
        metric = LAZY.get(s.name)
        if metric is None:
            continue
        m[metric] += s.dur / ops
        stage = next((by_id[a] for a in view.ancestors(s.sid)
                      if by_id[a].name.startswith("plans.stage.")), None)
        wr = stage_write(stage) if stage is not None else None
        if wr is not None and (stage.sid, metric) not in charged:
            charged.add((stage.sid, metric))
            m[metric] += wr.dur / ops

    def stage_python_rows(cls: str) -> int:
        rows = 0
        for s in spans:
            if s.name == f"plans.stage.{cls}":
                for part in (s, stage_write(s)):
                    if part is not None:
                        rows += sum(subtree(part.sid).python_rows.values())
        return rows

    translate_in = out.layer.get("translate_input_rows", 0) * counts.get(
        "plans.stage.TranslatorStage", 0)
    m["nlp.udf_rows_per_input_row"] = (
        stage_python_rows("TranslatorStage") / translate_in if translate_in else 0.0)
    m["ml.udf_rows"] = sum(stage_python_rows(c) for c in ML_STAGES) / ops

    for k in ("sources.rows_out", "io.bytes_written", "io.files_written"):
        m[k] = out.layer.get(k, 0)
    m.update({k: v for k, v in out.layer.items() if k.startswith("plans.stage_s.")})
    m["session.get_spark_s"] = statistics.median(bench.restart_s)
    m["io.pins"] = counts.get("io.pin_stats", 0) / ops
    m["io.cached_after"] = out.cached_tables
    m["leaked_cache_entries"] = out.leaked

    rounds = tracer.counters.get("functions.graph.rounds", 0)
    m["functions.graph.rounds"] = rounds / ops
    m["functions.graph.jobs_per_round"] = (
        by_name("functions.graph.cc").jobs / rounds if rounds else 0.0)
    n_batches = counts.get("streaming.curate_batch", 0)
    m["streaming.jobs_per_batch"] = (
        by_name("streaming.curate_batch").jobs / n_batches if n_batches else 0.0)
    upserts = [s for s in spans if s.name == "scale.selective_upsert"]
    m["scale.bytes_rewritten"] = sum(s.attrs.get("bytes", 0) for s in upserts) / ops
    committed = out.layer.get("upsert_committed_rows", 0)
    m["scale.write_amplification"] = (
        sum(s.attrs.get("rows", 0) for s in upserts) / committed if committed else 0.0)

    total = SparkWork()
    for w in span_work.values():
        total.add(w)
    floor_ms = statistics.median(bench.floor_ms)
    m.update({
        "spark.jobs": total.jobs / ops,
        "spark.stages": total.stages / ops,
        "spark.tasks": total.tasks / ops,
        "spark.job_floor_ms": floor_ms,
        "spark.floor_share": total.jobs * floor_ms / 1000.0 / wall if wall else 0.0,
        "spark.task_cpu_s": total.task_cpu_s / ops,
        "spark.cpu_busy_share": total.task_cpu_s / (wall * bench.spark_cores) if wall else 0.0,
        "spark.gc_s": total.gc_s / ops,
        "spark.shuffle_read_bytes": total.shuffle_read_bytes / ops,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes / ops,
        "spark.spill_bytes": total.spill_bytes / ops,
        "driver.result_bytes": total.result_bytes / ops,
    })
    untraced = statistics.median(base.latencies)
    traced = statistics.median(out.latencies)
    m["trace.overhead_s"] = traced - untraced
    m["trace.overhead_share"] = (traced - untraced) / untraced

    detail = {
        "self_time_s_per_op": {k: v / ops for k, v in sorted(view.self_times().items())},
        "tracing_overhead": {"untraced_p50_s": untraced, "traced_p50_s": traced,
                             "overhead_s": traced - untraced},
        "spark_work_per_op": {
            name: {k: (dict(v) if isinstance(v, dict) else v / ops)
                   for k, v in vars(by_name(name)).items()}
            for name in sorted({s.name for s in spans})
        },
        "zero_or_not_applicable": sorted(k for k, v in m.items() if v == 0),
    }
    return m, detail
