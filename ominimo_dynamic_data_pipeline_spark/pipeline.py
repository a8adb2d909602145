"""Dataflow compile + run.

Lifecycle (SURVEY.md §3 "Our lifecycle"):

  metadata -> validated config -> COMPILE (pure: sources + transformation
  chain -> dict[str, DataFrame] of lazy plans, zero Spark actions) ->
  RUN (execute deferred stats, optional debug counts, write sinks).

This fixes the reference's eager ``compute_stats`` firing jobs
mid-interpretation (``/root/reference/src/transformations.py:342-373``) and
its debug ``count()+show()`` on the hot path (``main.py:131-145``), which
are gated behind ``verbose`` here.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from typing import Any, Callable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession

from ominimo_dynamic_data_pipeline_spark.io import read_sources, write_sinks
from ominimo_dynamic_data_pipeline_spark.operators.registry import (
    CompileContext,
    apply_transformations,
)
from ominimo_dynamic_data_pipeline_spark.operators.stats import (
    compute_field_stats,
    compute_validation_stats,
    observe_field_stats,
    write_stats_sidecar,
)


@dataclass
class CompiledDataflow:
    dataflow: Mapping[str, Any]
    ctx: CompileContext

    @property
    def frames(self) -> dict[str, DataFrame]:
        return self.ctx.frames


@dataclass
class RunResult:
    frames: dict[str, DataFrame]
    stats: dict[str, dict[str, Any]] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)


def compile_dataflow(
    spark: SparkSession,
    dataflow: Mapping[str, Any],
    input_path_override: str | list[str] | None = None,
    clock: Column | None = None,
) -> CompiledDataflow:
    """Pure compile: read sources (lazy), build the transformation DAG.

    ``input_path_override`` replaces the FIRST source's path (reference CLI
    contract, ``main.py:111-117``) but without mutating the metadata — the
    binding is explicit and the metadata document stays immutable.
    """
    flow: dict[str, Any] = dict(dataflow)
    if input_path_override is not None and flow.get("sources"):
        sources = [dict(s) for s in flow["sources"]]
        sources[0]["path"] = input_path_override
        flow["sources"] = sources

    ctx = CompileContext(spark=spark, clock=clock)
    for name, df in read_sources(spark, flow).items():
        ctx.put(name, df)
    apply_transformations(ctx, flow)
    return CompiledDataflow(dataflow=flow, ctx=ctx)


def _finalize_stats_doc(doc, req, ctx, result, stats_clock) -> None:
    """Attach validation stats, write the sidecar, record on the result."""
    if req.include_validation_stats and req.ok_input and req.ko_input:
        ok = ctx.frames.get(req.ok_input)
        ko = ctx.frames.get(req.ko_input)
        if ok is not None and ko is not None:
            doc["validation_stats"] = compute_validation_stats(ok, ko)
    write_stats_sidecar(doc, req.stats_name, req.output_path, stats_clock)
    doc["stats_name"] = req.stats_name
    result.stats[req.stats_name] = doc


def run_dataflow(
    compiled: CompiledDataflow,
    write: bool = True,
    verbose: bool = False,
    stats_clock: Callable[[], datetime] = datetime.now,
) -> RunResult:
    """Execute the deferred actions of a compiled dataflow."""
    ctx = compiled.ctx
    result = RunResult(frames=ctx.frames)

    # mode="observe" stats ride along with the sink write: swap the sink's
    # input frame for the observed twin, collect metrics after the write.
    # Only valid when a sink action will actually consume the frame —
    # otherwise fall back to the dedicated-job path (with approx distinct
    # counts either way, so the stats document is mode-stable across runs).
    sink_inputs = {
        s["input"] for s in compiled.dataflow.get("sinks", []) or []
    }

    def observable(req) -> bool:
        return (
            req.mode == "observe" and write and req.input_name in sink_inputs
        )

    # Cache frames that are consumed by multiple downstream actions
    # (stats + sinks + debug counts) so the validation plan runs once.
    # Observed stats requests add NO extra action on their input — caching
    # them would persist the full sink dataset for a single consumer,
    # defeating observe's zero-extra-cost point — so they are excluded
    # unless something else (ok/ko stats) also reads the frame.
    multi_use = {
        req.input_name for req in ctx.deferred_stats if not observable(req)
    }
    for req in ctx.deferred_stats:
        multi_use |= {n for n in (req.ok_input, req.ko_input) if n}
    cached = []
    if write or verbose:
        for name in multi_use:
            if name in ctx.frames:
                ctx.frames[name] = ctx.frames[name].cache()
                cached.append(ctx.frames[name])

    observed_finishes: list[tuple[Any, Callable[[], dict[str, Any]]]] = []

    try:
        for req in ctx.deferred_stats:
            if observable(req):
                observed, finish = observe_field_stats(
                    ctx.get(req.input_name), req.fields
                )
                ctx.frames[req.input_name] = observed
                observed_finishes.append((req, finish))
                continue
            doc = compute_field_stats(
                ctx.get(req.input_name),
                req.fields,
                # observe-mode requests always report HLL distinct counts;
                # keep the fallback consistent with the observed path
                approx=req.approx or req.mode == "observe",
            )
            _finalize_stats_doc(
                doc, req, ctx, result, stats_clock
            )

        if verbose:
            for sink in compiled.dataflow.get("sinks", []) or []:
                name = sink["input"]
                if name in ctx.frames:
                    result.counts[name] = ctx.frames[name].count()
                    ctx.frames[name].show(truncate=False)

        if write:
            write_sinks(compiled.dataflow, ctx.frames)

        for req, finish in observed_finishes:
            _finalize_stats_doc(finish(), req, ctx, result, stats_clock)
    finally:
        for df in cached:
            df.unpersist()
        # Dedup steps persist intermediates under the one-generation-per-
        # operator registry; a dataflow run is their natural release
        # boundary (re-executing a returned frame afterwards recomputes
        # instead of reading cache — correct, just cold).
        from ominimo_dynamic_data_pipeline_spark.llm.dedup import (
            release_persisted,
        )

        release_persisted()
    return result


def run_pipeline(
    spark: SparkSession,
    metadata: Mapping[str, Any],
    dataflow_name: str | None = None,
    input_path: str | list[str] | None = None,
    clock: Column | None = None,
    write: bool = True,
    verbose: bool = False,
) -> RunResult:
    """End-to-end convenience wrapper: select -> compile -> run."""
    from ominimo_dynamic_data_pipeline_spark.config import select_dataflow

    flow = select_dataflow(metadata, dataflow_name)
    compiled = compile_dataflow(spark, flow, input_path, clock=clock)
    return run_dataflow(compiled, write=write, verbose=verbose)
