"""The benchmark's workloads.

A workload is a list of operations; one pass runs each once, in an order
the seed and the pass number fix.  ``run_op`` times one operation and returns its latency
plus a checker that is called after the timed window and returns the
list of problems found in that operation's output (empty when correct).

When a ``Tracer`` is given, the operation's calls into the package are
recorded as spans; otherwise nothing but the wall clock is read.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import datagen
from tools.oracle_check import compare, duck_connect

REPO = datagen.REPO
MOTOR_META = REPO / "examples" / "motor_pipeline.json"
MOTOR_FLOW = "motor-ingestion"
FIXED_CLOCK = "2026-01-01 00:00:00"

# query -> LLM operator family whose ops it times (llm.<family>.s)
LLM_FAMILY = {
    "q26_minhash_near_dups": "dedup",
}


def _span(tracer, name, **attrs):
    return tracer.span(name, **attrs) if tracer else nullcontext()


def dir_bytes(path: Path) -> int:
    path = Path(path)
    if not path.exists():
        return 0
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


@dataclass
class OpResult:
    latency_s: float
    check: object  # () -> list[str]
    info: dict = field(default_factory=dict)


class Workload:
    name = ""
    why = ""

    def ops(self, seed: int, pass_no: int) -> list[str]:
        """The operations of one pass, in an order drawn from the seed.

        Each pass gets its own order: the order moves single queries by
        up to a quarter on a 4-core host, so one order for the whole run
        would make the run's figures depend on which order its seed drew.
        The cold pass (pass 0) keeps the listed order: its first operation
        pays the fresh JVM's first-use cost, 1.5-2x its warm latency, and
        that should not depend on the seed either.
        """
        if pass_no == 0:
            return list(self.op_names)
        rng = np.random.Generator(np.random.PCG64([seed, pass_no]))
        return [self.op_names[i] for i in rng.permutation(len(self.op_names))]


# ------------------------------------------------------------ catalog mixes


class QueryMix(Workload):
    """Catalog queries at sf0.1, each forced by collecting its result."""

    def __init__(self, name, why, queries, tables, nominal_pass_s):
        self.name, self.why = name, why
        self.nominal_pass_s = nominal_pass_s
        self.op_names = list(queries)
        self.tables = tables

    def inputs(self, cache: Path, seed: int) -> dict:
        # the tables are fixed (seed 42, as in TESTDATA.md); the run seed
        # only orders the queries
        sf_dir = datagen.make_base_tables(cache / "sf0.1-seed42", 42)
        # data-derived oracles render from this directory at package import
        return {"sf_dir": str(sf_dir), "oracle_dir": str(sf_dir)}

    def touch(self, spark, inp) -> None:
        for t in self.tables:
            path = f"{inp['sf_dir']}/{t}.parquet"
            spark.read.parquet(path).write.format("noop").mode("overwrite").save()

    def prepare(self, inp, cache: Path, run_dir: Path) -> None:
        """Load (or compute once and cache) each query's DuckDB oracle."""
        from ominimo_dynamic_data_pipeline_spark.queries import ORACLES

        sf_dir = inp["sf_dir"]
        digest = datagen.tables_digest(Path(sf_dir))
        self.expected = {}
        con = None
        for q in self.op_names:
            sql = ORACLES[q]
            key = hashlib.sha256(f"{q}\0{sql}\0{digest}".encode()).hexdigest()[:24]
            path = cache / "oracle" / f"{q}-{key}.pkl"
            if not path.exists():
                if con is None:
                    con = duck_connect(sf_dir)
                    con.execute(f"SET temp_directory = '{run_dir / 'duck'}'")
                df = con.execute(sql).df()
                path.parent.mkdir(parents=True, exist_ok=True)
                tmp = path.with_suffix(".tmp")
                tmp.write_bytes(pickle.dumps(df))
                tmp.rename(path)
            self.expected[q] = pickle.loads(path.read_bytes())
        if con is not None:
            con.close()
        self.sf_dir = sf_dir

    def run_op(self, spark, op, tracer=None) -> OpResult:
        from ominimo_dynamic_data_pipeline_spark.queries import QUERIES
        from ominimo_dynamic_data_pipeline_spark.streaming import ops as stream_ops

        stream_ops.LAST_RUN_STATS.clear()
        t0 = time.perf_counter()
        with _span(tracer, "queries.construct", query=op):
            df = QUERIES[op](spark, self.sf_dir)
        t1 = time.perf_counter()
        with _span(tracer, "queries.force", query=op):
            got = df.toPandas()
        t2 = time.perf_counter()
        info = {"construct_s": t1 - t0, "force_s": t2 - t1}
        family = LLM_FAMILY.get(op)
        if family:
            info["llm_family"] = family
        if tracer:
            info["phases_ms"] = tracer.probe.phases_ms(df)
        if stream_ops.LAST_RUN_STATS:
            info["streaming"] = _stream_totals(stream_ops.LAST_RUN_STATS)
            scratch = (
                Path(os.environ["TMPDIR"])
                / "spark_graft_streams"
                / spark.sparkContext.applicationId
            )
            info["streaming"]["checkpoint_bytes"] = dir_bytes(scratch)
            c0 = time.perf_counter()
            stream_ops.cleanup_scratch(spark)
            info["streaming"]["cleanup_s"] = time.perf_counter() - c0
        expected = self.expected[op]
        return OpResult(t2 - t0, lambda: compare(op, got, expected), info)


def _stream_totals(stats: dict) -> dict:
    keys = ("trigger_exec_sec", "add_batch_sec", "fixed_overhead_sec")
    out = {k: sum(s.get(k, 0.0) for s in stats.values()) for k in keys}
    out["batches"] = sum(s.get("batches", 0) for s in stats.values())
    out["input_rows"] = sum(s.get("input_rows", 0) for s in stats.values())
    return out


# ------------------------------------------------------------ motor dataflow


class MotorIngest(Workload):
    """The ``motor-ingestion`` dataflow over seeded policy records."""

    name = "motor_ingest"
    why = (
        "the paper's product: JSON ingest, normalize, validate into OK/KO, "
        "stats sidecar, two JSON sinks; the only workload that writes files"
    )
    op_names = ["motor-ingestion"]

    def __init__(self, records: int, nominal_pass_s: float):
        self.records = records
        self.nominal_pass_s = nominal_pass_s

    def inputs(self, cache: Path, seed: int) -> dict:
        motor_dir = cache / "motor"
        path = motor_dir / f"motor-{seed}-{self.records}.json"
        expected = datagen.make_motor_input(path, seed, self.records)
        path.touch()
        # keep the inputs of the few most recent seeds; others are regenerated
        old = sorted(motor_dir.glob("motor-*.json"), key=lambda p: p.stat().st_mtime)
        for stale in old[:-4]:
            stale.unlink()
        return {"input": str(path), "expected": expected}

    def touch(self, spark, inp) -> None:
        spark.read.text(inp["input"]).write.format("noop").mode("overwrite").save()

    def prepare(self, inp, cache: Path, run_dir: Path) -> None:
        from ominimo_dynamic_data_pipeline_spark.config import (
            load_metadata,
            select_dataflow,
        )

        flow = json.loads(json.dumps(select_dataflow(load_metadata(MOTOR_META), MOTOR_FLOW)))
        out = run_dir / "motor_out"
        flow["sources"][0]["path"] = inp["input"]
        flow["sinks"] = [
            {**s, "paths": [str(out / f"sink_{i}")]} for i, s in enumerate(flow["sinks"])
        ]
        for step in flow["transformations"]:
            if "output_path" in step.get("params", {}):
                step["params"]["output_path"] = str(out / "stats")
        self.flow, self.out = flow, out
        self.expected = inp["expected"]
        self.input_bytes = Path(inp["input"]).stat().st_size

    def run_op(self, spark, op, tracer=None) -> OpResult:
        from pyspark.sql import functions as F

        from ominimo_dynamic_data_pipeline_spark.pipeline import (
            compile_dataflow,
            run_dataflow,
        )

        t0 = time.perf_counter()
        with _span(tracer, "pipeline.compile_dataflow"):
            compiled = compile_dataflow(
                spark, self.flow, clock=F.to_timestamp(F.lit(FIXED_CLOCK))
            )
        with _span(tracer, "pipeline.run_dataflow"):
            result = run_dataflow(compiled)
        latency = time.perf_counter() - t0
        sink_bytes = sum(dir_bytes(self.out / f"sink_{i}") for i in range(2))
        info = {
            "write_bytes": sink_bytes + dir_bytes(self.out / "stats"),
            "sink_bytes": sink_bytes,
            "input_bytes": self.input_bytes,
            "rows": self.expected["total"],
        }
        stats = result.stats.get("global_stats", {})
        return OpResult(latency, lambda: self.check(stats), info)

    def check(self, stats: dict) -> list[str]:
        exp = self.expected
        problems = []
        vs = stats.get("validation_stats", {})
        got = (
            stats.get("total_records"),
            vs.get("valid_records"),
            vs.get("rejected_records"),
            stats.get("fields", {}).get("driver_age", {}).get("null_count"),
        )
        want = (exp["total"], exp["ok"], exp["ko"], exp["driver_age_nulls"])
        if got != want:
            problems.append(f"total/ok/ko/age-nulls {got} != {want}")
        top = {e["error"]: e["count"] for e in vs.get("top_validation_errors", [])}
        for err, n in top.items():
            if exp["errors"].get(err) != n:
                problems.append(f"{err}: {n} != {exp['errors'].get(err)}")
        if not top:
            problems.append("no top_validation_errors in the stats sidecar")
        for i, want_rows in enumerate((exp["ok"], exp["ko"])):
            rows = _count_json_lines(self.out / f"sink_{i}")
            if rows != want_rows:
                problems.append(f"sink_{i}: {rows} rows != {want_rows}")
        if not (self.out / "stats" / "global_stats.json").exists():
            problems.append("stats sidecar missing")
        return problems


def _count_json_lines(path: Path) -> int:
    n = 0
    for part in Path(path).glob("part-*"):
        with part.open("rb") as fh:
            n += sum(buf.count(b"\n") for buf in iter(lambda: fh.read(1 << 20), b""))
    return n


WORKLOADS = {
    w.name: w
    for w in (
        # nominal pass lengths: warm passes measured on a 4-core host
        MotorIngest(records=100_000, nominal_pass_s=3.0),
        QueryMix(
            "catalog_mix",
            "catalog mechanisms: single-task percentile merges (q121, q125), a near-dup "
            "build of ~1,000 py4j calls (q26), a stream (q101), a plain rollup (q10)",
            [
                "q121_kll_quantile_merge",
                "q125_decile_binning",
                "q26_minhash_near_dups",
                "q101_streaming_tumbling_e2e",
                "q10_order_status_rollup",
            ],
            ["documents", "lineitem", "events", "orders"],
            nominal_pass_s=10.0,
        ),
    )
}
