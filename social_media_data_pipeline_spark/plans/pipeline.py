"""Config-driven pipeline runner — the orchestrator-equivalent.

Reference: `orchestrator.py:13-65` — a config JSON IS the query plan:
`dataset_name`, `skip_stage_if_exists`, ordered `stages` list of
`{name, implementation, input, output, enabled, params}`; stages are
resolved by reflection, gated on input existence, timed, and summarized.

Engine differences (SURVEY.md §3.1 Spark design):
- stage IO is Parquet tables inside the dataset dir (restartability
  contract preserved: every stage recoverable from disk);
- "analyze" = registry lookup + fail-fast before any execution starts,
  instead of the reference's runtime reflection errors;
- each stage body is a lazy DataFrame plan; materialization happens once
  at the stage boundary (Catalyst optimizes within a stage).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable, Protocol

from pyspark.sql import DataFrame, SparkSession

from social_media_data_pipeline_spark import io as eio


class Stage(Protocol):
    """A stage turns an optional input table into an output table."""

    def run(self, spark: SparkSession, input_path: str | None, output_path: str) -> DataFrame: ...


@dataclass
class SourceStage:
    """A stage with no input table (ingest); fn(spark, params) → DataFrame."""

    fn: Callable[[SparkSession, dict], DataFrame]
    params: dict

    def run(self, spark: SparkSession, input_path: str | None, output_path: str) -> DataFrame:
        return self.fn(spark, self.params)


@dataclass
class StageResult:
    name: str
    implementation: str
    enabled: bool
    result: str  # Success | Fail | Skipped | Disabled | MissingInput
    output: str | None
    execution_time: float | None


class PipelineRunner:
    """Executes a reference-shaped config over a stage registry.

    `registry` maps implementation name → factory(params) → Stage.
    """

    def __init__(self, spark: SparkSession, registry: dict[str, Callable[[dict], Stage]]):
        self.spark = spark
        self.registry = registry

    def analyze(self, config: dict) -> list[str]:
        """Fail-fast plan check: unresolved implementations reported
        before execution (reference reports at runtime,
        `orchestrator.py:49-51`)."""
        missing = [
            s["implementation"]
            for s in config["stages"]
            if s.get("enabled", True) and s["implementation"] not in self.registry
        ]
        return missing

    def run(self, config: dict, root_dir: str) -> list[StageResult]:
        dataset_dir = os.path.join(root_dir, config["dataset_name"])
        os.makedirs(dataset_dir, exist_ok=True)
        skip_if_exists = config.get("skip_stage_if_exists", False)
        results: list[StageResult] = []

        for spec in config["stages"]:
            name = spec["name"]
            impl = spec["implementation"]
            enabled = spec.get("enabled", True)
            inp = spec.get("input")
            out = spec["output"]
            input_path = os.path.join(dataset_dir, inp) if inp else None
            output_path = os.path.join(dataset_dir, out)

            if not enabled:
                results.append(StageResult(name, impl, False, "Disabled", out, None))
                continue
            if impl not in self.registry:
                results.append(StageResult(name, impl, True, "Fail", out, None))
                continue
            # input-existence gate (`orchestrator.py:39`)
            if input_path is not None and not eio.stage_output_exists(self.spark, input_path):
                results.append(StageResult(name, impl, True, "MissingInput", out, None))
                continue
            # S11 memoization (`orchestrator.py:46`, `Preprocessor.py:102-104`)
            if skip_if_exists and eio.stage_output_exists(self.spark, output_path):
                results.append(StageResult(name, impl, True, "Skipped", out, 0.0))
                continue

            stage = self.registry[impl](spec.get("params", {}))
            tic = time.perf_counter()
            try:
                df = stage.run(self.spark, input_path, output_path)
                eio.write_stage_output(
                    df, output_path, partition_cols=tuple(spec.get("partition_by", ()))
                )
                ok = True
            except Exception:
                ok = False
            toc = time.perf_counter()
            results.append(
                StageResult(name, impl, True, "Success" if ok else "Fail", out, toc - tic)
            )
        return results


def summarize(results: list[StageResult]) -> str:
    """Per-stage timing report (`orchestrator.py:59-65`)."""
    total = sum(r.execution_time or 0.0 for r in results) or 1.0
    lines = [f"{'name':30} {'impl':28} {'result':12} {'time':>8} {'time %':>8}"]
    for r in results:
        t = f"{r.execution_time:.2f}s" if r.execution_time is not None else "-"
        pct = f"{(r.execution_time or 0) / total:.1%}" if r.execution_time is not None else "-"
        lines.append(f"{r.name:30.30} {r.implementation:28.28} {r.result:12} {t:>8} {pct:>8}")
    return "\n".join(lines)
