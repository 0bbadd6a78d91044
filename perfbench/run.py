"""Benchmark runner: times what users of the engine wait for.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace {0|1}

Run from the repository root. Inputs are generated from ``--seed`` under
``.bench_work/`` in the working directory and removed at exit.

``--trace 0`` times one pass of the workload untraced and prints the
end-to-end metrics. Each pass is a fixed amount of work in a fresh
session (a cold pipeline run, a whole stream) that takes about the
``--seconds`` of BENCHMARK.json; ``--seconds`` does not stretch it.
``--trace 1`` runs an untimed warm-up pass, an untraced pass and a pass
with span wrappers around the engine's public functions and the Spark
event log on, and prints the per-layer metrics, with tracing overhead =
traced minus untraced median operation time. Per-layer times and counts
are per operation of the traced pass.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it is a JSON detail record
that also carries the wall-clock and workload-specific end-to-end metrics
(op_time_s, makespan_s, batch_p50_s, docs_per_s, failed_ratio,
leaked_cache_entries) and the per-layer metrics that do not apply to the
workload (0 in the last line; listed as zero_or_not_applicable).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "social_media_data_pipeline_spark"

E2E_UNITS = {"setup_s": "s", "op_cpu_s": "s", "peak_rss_mb": "MB"}
DETAIL_UNITS = {
    "op_time_s": "s",
    "makespan_s": "s", "batch_p50_s": "s", "docs_per_s": "1/s", "failed_ratio": "ratio",
    "leaked_cache_entries": "count", "cached_tables": "count", "persistent_rdds": "count",
}


def per_layer_names() -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


class Bench:
    """Session lifecycle, tracing switch and probes shared by the workloads."""

    def __init__(self, args) -> None:
        self.seed = args.seed
        self.work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        # Python workers import the engine too: put the repo on their path
        pythonpath = os.environ.get("PYTHONPATH", "")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pythonpath if pythonpath else "")
        # keep every temporary file of Python and the JVMs inside the work directory
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        for var in ("SMDP_PLACES365_WEIGHTS", "SMDP_PLACES365_CLASSES", "SMDP_FACE_PROTOTXT",
                    "SMDP_FACE_WEIGHTS", "SMDP_DIR_FEATURES", "SMDP_TRANSLATE_ONLINE"):
            os.environ.pop(var, None)  # always the offline stub models
        self.env = dict(os.environ)
        self.spark = None
        self.tracer = None
        self.log_dir = None
        self.phase = "a"
        self.restart_s: list[float] = []
        self.floor_ms: list[float] = []

    def conf(self) -> dict:
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.log_dir:
            from tracing import event_log_conf

            conf.update(event_log_conf(self.log_dir))
        return conf

    def start_session(self) -> float:
        """Build a session and run one trivial job; returns seconds taken."""
        from social_media_data_pipeline_spark import session

        t = time.perf_counter()
        self.spark = session.get_spark("perfbench", extra_conf=self.conf())
        self.spark.range(1).count()
        return time.perf_counter() - t

    def fresh_session(self):
        """Stop the current session and start a new one in the same JVM,
        then calibrate its job floor (both outside any timed region)."""
        from tracing import job_floor_ms

        if self.spark is not None:
            self.spark.stop()
        self.restart_s.append(self.start_session())
        self.spark_cores = self.spark.sparkContext.defaultParallelism
        self.floor_ms.append(job_floor_ms(self.spark))
        if self.tracer is not None:
            self.tracer.sc = self.spark.sparkContext
        return self.spark

    def op(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def leak_probe(self, out) -> None:
        """Record the cache entries left after a timed region."""
        from tracing import cache_entries

        out.cached_tables, out.persistent_rdds = cache_entries(self.spark)
        out.leaked = out.cached_tables + out.persistent_rdds

    def peak_rss_mb(self) -> float:
        from tracing import vm_hwm_mb

        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(int(jvm_pid))

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)


def run_phase(bench, workload, traced: bool):
    """One timed phase; traced phases install the span wrappers and the
    event log, and return the parsed Spark work per job group."""
    import layers
    from tracing import Tracer, read_event_log

    bench.phase = "b" if traced else "a"
    if not traced:
        return workload.run(bench), None, None
    bench.log_dir = os.path.join(bench.work, "eventlog")
    os.makedirs(bench.log_dir, exist_ok=True)
    bench.tracer = Tracer()
    bench.restart_s.clear()
    bench.floor_ms.clear()
    layers.install(bench.tracer)
    try:
        out = workload.run(bench)
    finally:
        bench.tracer.restore()
    bench.spark.stop()  # flush the event log
    bench.spark = None
    return out, bench.tracer, read_event_log(bench.log_dir)


def main() -> int:
    t_start = time.perf_counter() - _process_age()
    ap = argparse.ArgumentParser(description="Engine benchmark runner")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"error: the engine package {PKG} is not next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    bench = Bench(args)
    try:
        bench.start_session()
        setup_s = time.perf_counter() - t_start
        workload = WORKLOADS[args.workload]()
        workload.prepare(bench)
        if args.trace:
            # compare a warm traced pass with a warm untraced one
            workload.run(bench)
            base, _, _ = run_phase(bench, workload, traced=False)
            rss = bench.peak_rss_mb()
            out, tracer, work = run_phase(bench, workload, traced=True)
            import layers

            metrics, extra = layers.reduce(bench, out, base, tracer, work)
            runs = (base, out)
        else:
            out, _, _ = run_phase(bench, workload, traced=False)
            rss = bench.peak_rss_mb()
            metrics = {
                "setup_s": setup_s,
                "op_cpu_s": statistics.median(out.cpu),
                "peak_rss_mb": rss,
            }
            out.detail["op_time_s"] = statistics.median(out.latencies)
            extra = {}
            runs = (out,)
        attempted = sum(r.attempted for r in runs)
        failed = sum(r.failed for r in runs)
        detail = dict(out.detail, setup_s=setup_s, peak_rss_mb=rss,
                      failed_ratio=failed / attempted if attempted else 1.0,
                      leaked_cache_entries=out.leaked, cached_tables=out.cached_tables,
                      persistent_rdds=out.persistent_rdds)
        units = dict(E2E_UNITS, **DETAIL_UNITS)
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "operations": len(out.latencies),
            "end_to_end": {k: {"value": v, "unit": units[k]} for k, v in detail.items() if k in units},
            **{k: v for k, v in detail.items() if k not in units},
            "problems": [p for r in runs for p in r.problems][:20],
            **extra,
        }
        if args.trace:
            names = dict(per_layer_names())
            result_metrics = {n: {"value": metrics.get(n, 0), "unit": u} for n, u in names.items()}
        else:
            result_metrics = {n: {"value": v, "unit": E2E_UNITS[n]} for n, v in metrics.items()}
        print(json.dumps(record, default=float))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": result_metrics}))
        return 0
    finally:
        bench.shutdown()
        shutil.rmtree(bench.work, ignore_errors=True)


def _process_age() -> float:
    sys.path.insert(0, HERE)
    from tracing import process_age_s

    return process_age_s()


if __name__ == "__main__":
    sys.exit(main())
