"""The repository's benchmark: end-to-end and per-layer timings.

Usage (from the repository root):

    python3 perfbench/run.py --workload motor_ingest --seed 7 --seconds 25 --trace 0

Workloads (``workloads.py``): ``motor_ingest`` runs the ``motor-ingestion``
dataflow of ``examples/motor_pipeline.json``; ``catalog_mix`` runs catalog
queries.  Inputs are generated from the seed (``datagen.py``) into
``perfbench/.cache``, which also keeps the DuckDB oracle results, so only
the first run in a checkout pays for them.

Load shape: a closed loop with one client.  One Python process runs one
operation at a time on ``local[$SPARK_GRAFT_CPUS]`` (default: the usable
cores less one, which is left to the Python driver and the JVM's JIT and
GC threads, so that Spark's task threads do not queue behind them); the
next operation starts when the previous one returns.  A run sets up the
session ``SETUPS`` times, then makes one cold pass over the workload and
as many warm passes as fit in ``--seconds`` at the workload's nominal
pass length (``warm_passes``).  The first third of the warm passes
(rounded down) let the JIT settle and are left out of the figures: the
dataflow's pass keeps getting faster for two or three passes.  Every
operation's output is checked outside its timed window: catalog queries
against their DuckDB oracle, the dataflow against the verdict counts the
generator derives from the golden rows.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes a
separate traced run (``tracing.py``): one traced cold pass, then three
warm passes (untraced, traced, untraced), printing the per-layer metrics
of the traced warm pass, the tracing overhead and a layer-share summary.  The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
CACHE = HERE / ".cache"
PACKAGE = "ominimo_dynamic_data_pipeline_spark"
SETUPS = 3
MIN_WARM_PASSES = 2
# Pinned so memory figures do not follow the host's RAM (the package's
# default heap is half of physical memory).
DRIVER_MEMORY = "4g"

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    # geometric mean over the operations of each one's median warm
    # latency: every operation weighs the same, so a slower fast query
    # shows as clearly as a slower slow one
    "op_gmean_s": "s",
    "peak_rss_mb": "MB",
}
# printed on the summary line only: they exist on some workloads, are
# carried by the result line's attempted/failed counts, or are percentiles
# of the pooled warm latencies of different operations.  The pooled median
# is whichever query sits in the middle, and a run has too few samples for
# a tail: with 11 or fewer no percentile above the median has ten beyond it
SUMMARY_ONLY = {
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "rows/s",
    "write_amp": "ratio",
    "failed_ops_ratio": "ratio",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.shuffle_partitions": "count",
    "pipeline.compile_dataflow_s": "s",
    "io.read_sources_s": "s",
    "io.read_sources.jobs": "count",
    "operators.apply_transformations_s": "s",
    "operators.apply_transformations.py4j_calls": "count",
    "pipeline.run_dataflow_s": "s",
    "pipeline.run_dataflow.jobs": "count",
    "operators.stats_s": "s",
    "io.write_sinks_s": "s",
    "io.write_sinks.bytes": "bytes",
    "queries.construct_s": "s",
    "queries.construct.py4j_calls": "count",
    "queries.construct.jobs": "count",
    "queries.force_s": "s",
    "llm.dedup.s": "s",
    "streaming.trigger_exec_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.fixed_overhead_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.checkpoint_bytes": "bytes",
    "streaming.cleanup_s": "s",
    "spark.catalyst.analysis_ms": "ms",
    "spark.catalyst.optimization_ms": "ms",
    "spark.catalyst.planning_ms": "ms",
    "spark.codegen.compiles": "count",
    "spark.codegen.compile_ms": "ms",
    "spark.codegen.warm_compiles": "count",
    "spark.exec.jobs": "count",
    "spark.exec.stages": "count",
    "spark.exec.tasks": "count",
    "spark.exec.executor_run_s": "s",
    "spark.exec.executor_cpu_s": "s",
    "spark.exec.gc_s": "s",
    "spark.exec.busy_ratio": "ratio",
    "spark.exec.shuffle_write_bytes": "bytes",
    "spark.exec.shuffle_read_bytes": "bytes",
    "spark.exec.spill_bytes": "bytes",
    "spark.exec.input_bytes": "bytes",
    "spark.exec.single_task_stages": "count",
    "py4j.calls": "count",
    "py4j.wait_s": "s",
    "driver.python_cpu_s": "s",
    "trace.overhead_s": "s",
}

# package functions the traced run times as spans (module, attribute, span)
PIPELINE_SPANS = [
    ("read_sources", "io.read_sources"),
    ("apply_transformations", "operators.apply_transformations"),
    ("write_sinks", "io.write_sinks"),
    ("compute_field_stats", "operators.stats"),
    ("observe_field_stats", "operators.stats"),
    ("compute_validation_stats", "operators.stats"),
    ("write_stats_sidecar", "operators.stats"),
]


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it; the median when there are too few samples."""
    xs = sorted(samples)
    n = len(xs)
    rank = n - 11  # 0-based: n - 1 - rank == 10 samples lie above it
    if rank < (n - 1) / 2:
        return statistics.median(xs), 50.0
    return xs[rank], 100.0 * (rank + 1) / n


def warm_passes(workload, seconds: float) -> int:
    """Warm passes that fill ``seconds`` at the workload's nominal pass
    length.  The count does not depend on how fast this run goes: passes
    keep getting faster as the JIT settles, so a count that followed the
    clock would move the median with the host's speed."""
    return max(MIN_WARM_PASSES, int(seconds // workload.nominal_pass_s))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields[:8])


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its children,
    the Spark JVM among them."""
    kb = 0
    for pid in _proc_tree(os.getpid()):
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


class Runner:
    def __init__(self, workload, seed: int):
        self.wl = workload
        self.seed = seed
        self.tracer = None
        self.attempted = 0
        self.failed = 0

    def run_pass(self, spark, pass_no: int, traced: bool) -> dict:
        ops = self.wl.ops(self.seed, pass_no)
        tracer = self.tracer if traced else None
        if self.tracer:
            self.tracer.active = traced
            self.tracer.pass_no = pass_no
        done, latencies, infos = [], [], []
        spark_exec: dict[str, float] = {}
        cpu0 = time.process_time()
        for op in ops:
            self.attempted += 1
            if tracer:
                tracer.op_id = f"{pass_no}:{op}"
            try:
                res = self.wl.run_op(spark, op, tracer=tracer)
                problems = res.check()
            except Exception as exc:  # noqa: BLE001 - counted, reported
                res, problems = None, [f"{type(exc).__name__}: {exc}"[:500]]
            if problems:
                self.failed += 1
                print(f"perfbench: {op} pass {pass_no}: {problems}", file=sys.stderr)
            if res is not None:
                done.append(op)
                latencies.append(res.latency_s)
                infos.append(res.info)
            if tracer:
                for k, v in tracer.probe.new_jobs().items():
                    spark_exec[k] = spark_exec.get(k, 0.0) + v
        return {
            "wall": sum(latencies),
            "ops": done,
            "latencies": latencies,
            "infos": infos,
            "spark_exec": spark_exec,
            "python_cpu_s": time.process_time() - cpu0,
        }


def setup_sessions(workload, inp, run_dir: Path):
    """Build the session ``SETUPS`` times (the first also launches the
    JVM); each set-up is get_spark plus the warm-up touch of the input."""
    from ominimo_dynamic_data_pipeline_spark import get_spark

    conf = {"spark.sql.warehouse.dir": str(run_dir / "warehouse")}
    cycles = []
    spark = None
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload.name}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        workload.touch(spark, inp)
        t2 = time.perf_counter()
        cycles.append((t1 - t0, t2 - t1, t2))
    return spark, cycles


def shutdown(spark) -> None:
    """Stop the session and the JVM the gateway launched; wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _sum_info(infos, key) -> float:
    return sum(i.get(key, 0.0) for i in infos)


def layer_metrics(tracer, cold, untraced_wall, traced, cycles, spark) -> dict:
    """Per-layer metrics of the traced warm pass (codegen: the cold pass)."""
    p = traced["pass_no"]
    infos = traced["infos"]
    t = tracer.total
    m = {
        "session.get_spark_s": statistics.median(c[0] for c in cycles),
        "session.warmup_s": statistics.median(c[1] for c in cycles),
        "session.shuffle_partitions": float(
            spark.conf.get("spark.sql.shuffle.partitions")
        ),
        "pipeline.compile_dataflow_s": t("pipeline.compile_dataflow", p),
        "io.read_sources_s": t("io.read_sources", p),
        "io.read_sources.jobs": t("io.read_sources", p, "jobs"),
        "operators.apply_transformations_s": t("operators.apply_transformations", p),
        "operators.apply_transformations.py4j_calls": t(
            "operators.apply_transformations", p, "py4j_calls"
        ),
        "pipeline.run_dataflow_s": t("pipeline.run_dataflow", p),
        "pipeline.run_dataflow.jobs": t("pipeline.run_dataflow", p, "jobs"),
        "operators.stats_s": t("operators.stats", p),
        "io.write_sinks_s": t("io.write_sinks", p),
        "io.write_sinks.bytes": float(_sum_info(infos, "sink_bytes")),
        "queries.construct_s": t("queries.construct", p),
        "queries.construct.py4j_calls": t("queries.construct", p, "py4j_calls"),
        "queries.construct.jobs": t("queries.construct", p, "jobs"),
        "queries.force_s": t("queries.force", p),
        "llm.dedup.s": sum(
            lat
            for lat, i in zip(traced["latencies"], infos)
            if i.get("llm_family") == "dedup"
        ),
    }
    streams = [i["streaming"] for i in infos if "streaming" in i]
    for key, name in (
        ("trigger_exec_sec", "trigger_exec_s"),
        ("add_batch_sec", "add_batch_s"),
        ("fixed_overhead_sec", "fixed_overhead_s"),
        ("batches", "batches"),
        ("input_rows", "input_rows"),
        ("checkpoint_bytes", "checkpoint_bytes"),
        ("cleanup_s", "cleanup_s"),
    ):
        m[f"streaming.{name}"] = float(sum(s[key] for s in streams))
    for phase in ("analysis", "optimization", "planning"):
        m[f"spark.catalyst.{phase}_ms"] = sum(
            i.get("phases_ms", {}).get(phase, 0.0) for i in infos
        )
    m["spark.codegen.compiles"] = float(cold["codegen"][0])
    m["spark.codegen.compile_ms"] = cold["codegen"][1]
    m["spark.codegen.warm_compiles"] = float(traced["codegen"][0])
    ex = traced["spark_exec"]
    for key in (
        "jobs",
        "stages",
        "tasks",
        "executor_run_s",
        "executor_cpu_s",
        "gc_s",
        "shuffle_write_bytes",
        "shuffle_read_bytes",
        "spill_bytes",
        "input_bytes",
        "single_task_stages",
    ):
        m[f"spark.exec.{key}"] = float(ex.get(key, 0.0))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m["spark.exec.busy_ratio"] = m["spark.exec.executor_run_s"] / (
        cores * traced["wall"]
    )
    m["py4j.calls"] = float(traced["py4j_calls"])
    m["py4j.wait_s"] = traced["py4j_wait_s"]
    m["driver.python_cpu_s"] = traced["python_cpu_s"]
    m["trace.overhead_s"] = traced["wall"] - untraced_wall
    return m


def layer_shares(m: dict, wall: float) -> dict[str, float]:
    """Share of the traced warm pass spent in each layer.  The layers
    overlap (Catalyst runs inside construct and force; streams run
    inside construct), so the shares need not sum to one."""
    stream = m["streaming.trigger_exec_s"]
    write = m["io.write_sinks_s"]
    return {
        "construct": (m["queries.construct_s"] - stream + m["pipeline.compile_dataflow_s"])
        / wall,
        "catalyst": sum(
            m[f"spark.catalyst.{p}_ms"] for p in ("analysis", "optimization", "planning")
        )
        / 1e3
        / wall,
        "exec": (m["queries.force_s"] + m["pipeline.run_dataflow_s"] - write) / wall,
        "io_write": write / wall,
        "streaming": stream / wall,
    }


def run(args, workload, run_dir: Path) -> int:
    gen0 = time.perf_counter()
    inp = workload.inputs(CACHE, args.seed)
    gen_s = time.perf_counter() - gen0
    if inp.get("oracle_dir"):
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = inp["oracle_dir"]

    imp0 = time.perf_counter()
    import ominimo_dynamic_data_pipeline_spark.pipeline  # noqa: F401
    import ominimo_dynamic_data_pipeline_spark.queries  # noqa: F401

    import_s = time.perf_counter() - imp0
    prep0 = time.perf_counter()
    workload.prepare(inp, CACHE, run_dir)
    prepare_s = time.perf_counter() - prep0
    try:
        # forget the oracle build's peak: peak_rss_mb covers the run itself
        Path("/proc/self/clear_refs").write_text("5")
    except OSError:
        pass

    spark = None
    try:
        spark, cycles = setup_sessions(workload, inp, run_dir)
        runner = Runner(workload, args.seed)
        if args.trace:
            result = traced_run(args, workload, spark, runner, cycles)
        else:
            result = untraced_run(args, workload, spark, runner, cycles)
        if result is None:
            return 1
        metrics, summary = result
        summary.update(
            {
                "input_gen_s": gen_s,
                "oracle_prepare_s": prepare_s,
                "package_import_s": import_s,
                # process start to the end of the first set-up, JVM
                # launch and package import included
                "first_setup_s": cycles[0][2] - T_START - gen_s - prepare_s,
            }
        )
    finally:
        shutdown(spark)

    correct = runner.failed == 0
    line = " | ".join(f"{k}={_fmt(v)}" for k, v in summary.items())
    print(f"perfbench {workload.name} seed={args.seed} trace={args.trace}: {line}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.4g}"
    return str(v)


def untraced_run(args, workload, spark, runner, cycles):
    cold = runner.run_pass(spark, 0, traced=False)
    steal0 = cpu_ticks()
    n = warm_passes(workload, args.seconds)
    warm = [runner.run_pass(spark, i, traced=False) for i in range(1, n + 1)][n // 3 :]
    steal1 = cpu_ticks()
    lat = [x for p in warm for x in p["latencies"]]
    if not lat or not cold["latencies"]:
        print("perfbench: no operation completed", file=sys.stderr)
        return None
    tail_v, tail_p = tail(lat)
    per_op: dict[str, list[float]] = {}
    for p in warm:
        for op, x in zip(p["ops"], p["latencies"]):
            per_op.setdefault(op, []).append(x)
    op_medians = {op: statistics.median(xs) for op, xs in per_op.items()}
    values = {
        "setup_s": statistics.median(c[0] + c[1] for c in cycles),
        "cold_pass_s": cold["wall"],
        "warm_pass_s": statistics.median(p["wall"] for p in warm),
        "op_gmean_s": statistics.geometric_mean(op_medians.values()),
        "peak_rss_mb": peak_rss_mb(),
    }
    metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    summary = {f"{k} [{END_TO_END[k]}]": v for k, v in values.items()}
    infos = [i for p in warm for i in p["infos"]]
    rows = _sum_info(infos, "rows") / len(warm)
    written = _sum_info(infos, "write_bytes")
    read = _sum_info(infos, "input_bytes")
    extra = {
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "rows_per_s": rows / values["warm_pass_s"] if rows else "n/a",
        "write_amp": written / read if read else "n/a",
        "failed_ops_ratio": runner.failed / runner.attempted,
    }
    summary.update({f"{k} [{SUMMARY_ONLY[k]}]": v for k, v in extra.items()})
    summary["op_tail"] = f"p{tail_p:.0f} of n={len(lat)}"
    summary["warm_op_s"] = {op: round(x, 4) for op, x in op_medians.items()}
    summary["cold_op_s"] = {
        op: round(x, 4) for op, x in zip(cold["ops"], cold["latencies"])
    }
    summary["warm_passes_s"] = [round(p["wall"], 3) for p in warm]
    # CPU time the hypervisor took from this VM during the warm passes
    summary["steal_pct"] = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    return metrics, summary


def traced_run(args, workload, spark, runner, cycles):
    from ominimo_dynamic_data_pipeline_spark import pipeline

    from tracing import Tracer

    tracer = Tracer(spark)
    runner.tracer = tracer
    undo = [tracer.wrap(pipeline, attr, name) for attr, name in PIPELINE_SPANS]
    probe = tracer.probe
    try:
        probe.new_jobs()

        def traced_pass(pass_no):
            cg0 = probe.codegen()
            calls0, wait0 = tracer.py4j.calls, tracer.py4j.wait_s
            res = runner.run_pass(spark, pass_no, traced=True)
            cg1 = probe.codegen()
            res["codegen"] = (cg1[0] - cg0[0], cg1[1] - cg0[1])
            res["py4j_calls"] = tracer.py4j.calls - calls0
            res["py4j_wait_s"] = tracer.py4j.wait_s - wait0
            res["pass_no"] = pass_no
            return res

        cold = traced_pass(0)
        # untraced, traced, untraced: the passes still speed up as the JIT
        # settles, so the overhead is taken against both neighbours
        e0 = probe.sql_executions()
        before = runner.run_pass(spark, 1, traced=False)
        e1 = probe.sql_executions()
        probe.new_jobs()
        traced = traced_pass(2)
        e2 = probe.sql_executions()
        after = runner.run_pass(spark, 3, traced=False)
        e3 = probe.sql_executions()
    finally:
        for u in undo:
            u()
        tracer.close()
    if not e1 - e0 == e2 - e1 == e3 - e2:
        runner.failed += 1
        print(
            f"perfbench: traced pass fired {e2 - e1} SQL executions, "
            f"untraced {e1 - e0} and {e3 - e2}",
            file=sys.stderr,
        )
    if not traced["latencies"] or not before["latencies"] or not after["latencies"]:
        print("perfbench: no operation completed", file=sys.stderr)
        return None
    untraced_wall = (before["wall"] + after["wall"]) / 2
    m = layer_metrics(tracer, cold, untraced_wall, traced, cycles, spark)
    tracer.dump(CACHE / "traces" / f"{workload.name}-seed{args.seed}.json")
    shares = layer_shares(m, traced["wall"])
    print(
        f"perfbench {workload.name} layer shares of the traced pass "
        f"({traced['wall']:.3f} s): "
        + ", ".join(f"{k} {100 * v:.1f}%" for k, v in shares.items())
    )
    metrics = {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}
    summary = {
        "untraced_pass_s": untraced_wall,
        "traced_pass_s": traced["wall"],
        "sql_executions_per_pass": e1 - e0,
    }
    return metrics, summary


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (REPO / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE} not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(REPO))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_dir = CACHE / f"run-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) - 1))
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEMORY", DRIVER_MEMORY)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # every JVM started from here (spark-submit's launcher too) keeps its
    # files in the run directory; HotSpot's perf data would go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'} "
        f"-Dderby.system.home={run_dir / 'derby'}"
    )
    tempfile.tempdir = None
    try:
        return run(args, WORKLOADS[args.workload], run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
