"""SparkSession factory.

The reference builds a bare ``local[*]`` session with no tuning
(``/root/reference/main.py:16-23``).  We centralize session construction so
every entry point (CLI, tests, driver contract, bench) gets the same
scale-aware configuration:

  * AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  * Arrow execution for the pandas-UDF escape hatch
  * UTC session timezone so temporal semantics match the DuckDB oracle
  * shuffle partitions sized for the local harness but overridable via env
    (on a real cluster you'd set this to ~2-3x total cores or rely on AQE
    coalescing from a high initial value)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Reference-parity + ETL posture: Spark 4 defaults ANSI on, which makes
    # invalid casts throw and changes string/numeric coercion (coalesce of
    # string+bigint becomes bigint).  The reference ran Spark 3.5 non-ANSI;
    # a 100 TB ingest pipeline wants bad records to become nulls/KO rows,
    # not stage failures.
    "spark.sql.ansi.enabled": "false",
    # The events table stores TIMESTAMP(NANOS) parquet, which Spark cannot
    # read natively; read as long and convert in tables.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Local-harness sizing; a cluster deployment overrides via spark-submit.
    "spark.sql.shuffle.partitions": "32",
    # One JVM hosts driver + all 32 executor threads in local mode: 8g
    # (~256 MB/thread) caused cache-eviction churn and run-to-run variance
    # in the sf1 scale bench (round-3 verdict item 3); 24g (~768 MB/thread)
    # matches the per-core executor memory a real cluster deployment would
    # get and keeps the shared shingle cache resident by design.  Clamped
    # to half the machine's RAM so small hosts degrade to Spark spilling
    # instead of OS-level swap/OOM (set in get_spark via
    # _driver_memory_gb(); overridable through extra_conf).
    # Input-split sizing, local-harness value (cluster deployments restore
    # the 128 MB default via spark-submit): a 100 TB table is thousands of
    # ~128 MB files, so scan parallelism is never file-bound — but the
    # miniature bench tables are SINGLE files (lineitem sf1 = one 140 MB
    # file), and 128 MB splits cap every scan-side stage at 1-2 of the 32
    # local threads.  4 MB splits restore cluster-like scan parallelism on
    # miniature data (measured: q26 sf1 6.4 s -> 3.7 s; q104 7.1 s ->
    # 0.4 s together with splittable row groups in the generator); 1 MB
    # open-cost still packs tiny files together.  Shrink further only if
    # wide text/binary rows cause scan-side spill.
    "spark.sql.files.maxPartitionBytes": "4194304",
    "spark.sql.files.openCostInBytes": "1048576",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "67108864",
    # Small-dim broadcast: default 10MB is fine, keep explicit for clarity.
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # Managed-table surface (bucketed tables): keep the warehouse and the
    # derby metastore out of the repo tree.  Static configs — must be set
    # at session build, not at runtime.
    "spark.sql.warehouse.dir": "/tmp/spark-graft-warehouse",
    # Batch-throughput GC.  The JVM default (G1) hits a measured
    # pathology on this workload at the sf100 decade: shuffle-sort
    # pointer arrays are ~64 MB humongous allocations while lz4/snappy
    # and Arrow hold JNI-critical regions, and G1's GCLocker-starved
    # allocation path stalls ("Retried waiting for GCLocker too often")
    # and ultimately THROWS OutOfMemoryError with free heap remaining.
    # Measured on 600M-row inputs, identical 45g heap / 476 partitions
    # (BENCH_sf100.json): q199 663.8 s (G1) -> 254.0 s (Parallel),
    # q139 971.8 -> 502.3 s, q97 OOM -> 318.9 s.  ParallelGC is the
    # classic throughput collector for batch engines — no region /
    # humongous bookkeeping, full compaction, no pause-time target to
    # miss.  Set on BOTH driver and executor options: in local mode one
    # JVM hosts everything (driver options govern), on a cluster each
    # executor JVM needs the flag itself.
    "spark.driver.extraJavaOptions": (
        "-XX:+UseParallelGC -Dderby.system.home=/tmp/spark-graft-derby"
    ),
    "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
    # RocksDB state-store tuning (round-9 measured pass, q141/q151 at
    # sf30, 359 MB events source, auto-RocksDB posture, cold process per
    # reading).  Changelog checkpointing uploads per-batch DELTAS instead
    # of full SST snapshots: q141 46.2 -> 36.7 s, and is the documented
    # production posture for large state.  trackTotalNumberOfRows costs
    # one extra store lookup per put/delete purely to keep the
    # numTotalStateRows metric exact; disabling it stacks to q141 32.1 s
    # (-30%) / q151 46.4 -> 29.4 s (-37%).  Both knobs are result-neutral
    # (metrics-only / checkpoint-format-only) and inert under the heap
    # provider.  A stream's checkpoint must keep the changelog setting
    # constant across restarts (Spark contract) — these are session-wide
    # defaults, so that holds by construction.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows": "false",
    # Round-11 measured pass on q141's watermark-eviction residual
    # (BENCH_sf100.json round11_q141_eviction_knobs: sf100 multi-file, cold
    # process per variant, result fingerprints identical): larger memtables
    # (fewer L0 SSTs for the expiry scan's merge iterator) + a real block
    # cache (default is 8 MB) take q141 110.7 -> 84.4 s wall, state update
    # 1792 -> 1250 task-s, watermark removal 505 -> 365 task-s (-28%). Both
    # are storage-layout/cache-only (result-neutral) and inert on the heap
    # provider.  Memory bound: budgets apply per OPEN store and only
    # task-active stores are open, so worst-case extra is ~(128*4 + 64) MB x
    # executor cores — pair with rocksdb.boundedMemoryUsage on
    # memory-constrained executors.
    "spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB": "128",
    "spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber": "4",
    "spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB": "64",
    # Long multi-query sessions accumulate localCheckpoint / broadcast
    # blocks whose Py4J references the Python GC releases lazily; the
    # ContextCleaner only frees them after a JVM GC notices the refs are
    # dead.  The 30 min default lets tens of GB of dead blocks ride
    # along at soak scale (the sf30 soak measured q108 203 s late-session
    # vs 174 s isolated); 5 min bounds the drag without measurable cost.
    "spark.cleaner.periodicGC.interval": "5min",
}


def estimate_input_bytes(*paths: str) -> int:
    """Total on-disk bytes of the given files/dataset directories (data
    files only — `_SUCCESS`/dotfiles skipped).  The input-size estimate
    the auto-posture rules key on."""
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if not f.startswith(("_", "."))
                )
        elif os.path.isfile(p):
            total += os.path.getsize(p)
    return total


# Measured walls behind the auto-posture rules (BENCH_sf30.json, round-7
# soak, one consistent config at each scale):
#   * 32 shuffle partitions spill + GC-thrash on a 180M-row shuffle
#     (~12 GB input, sf30): q139 went superlinear at 32, linear at 128.
#     AQE coalesces DOWN from the initial value, never up — the initial
#     width is the lever, and an over-wide initial value is near-free.
#   * the state-store crossover brackets the STREAMED SOURCE bytes, not
#     the whole dataset: with the sf10 events table (120 MB) the heap
#     store wins (q116 16.0 s vs q202-RocksDB 22.0 s — RocksDB pays
#     fixed per-batch overhead); with the sf30 events table (359 MB,
#     30M rows / ~9M state keys) RocksDB wins (60.0 s vs 68.1 s) and
#     heap OOMed session-window state.  Crossover encoded at 256 MB of
#     source, inside the measured [120, 359] MB bracket.
#   * sf100 recalibration (round-8 soak): the first 96 MB/partition
#     target was derived from sf30's whole-DIR bytes (12 GB / 128), but
#     non-participating tables padded that denominator — the shuffle
#     that mattered was lineitem alone (4.2 GB / 128 ≈ 33 MB, 1.4M
#     rows/partition).  At sf100 (15.9 GB dir, ~all of it lineitem)
#     96 MB/partition gave 159 partitions = 3.8M rows each and q199
#     OOMed the 24g heap; 32 MB/partition reproduces the measured-good
#     sf30 row density (~1.2M rows/partition) and is near-free when
#     over-wide (AQE coalesces down).
AUTO_SHUFFLE_TARGET_BYTES = 32 << 20  # ~32 MB of input per partition
AUTO_SHUFFLE_FLOOR = 32
AUTO_SHUFFLE_CAP = 4096
AUTO_ROCKSDB_THRESHOLD_BYTES = 256 << 20


def auto_shuffle_partitions(input_bytes: int) -> int:
    """Initial shuffle width from estimated input bytes: one partition
    per ~32 MB, floored at the local default (32) and capped at 4096.
    Reproduces the measured-good ~1.2M-rows-per-partition density of
    the sf30 posture (see the wall notes above): sf10 (~1.8 GB) -> 56,
    sf30 (~12 GB) -> 375, sf100 (~16 GB, lineitem-dominated) -> 476 —
    the density at which q199 stopped OOMing in the round-8 soak."""
    return max(
        AUTO_SHUFFLE_FLOOR,
        min(AUTO_SHUFFLE_CAP, -(-input_bytes // AUTO_SHUFFLE_TARGET_BYTES)),
    )


AUTO_SPLIT_FLOOR_BYTES = 4 << 20  # measured-good miniature scan splits
AUTO_SPLIT_CAP_BYTES = 128 << 20  # Spark's cluster default
AUTO_SPLIT_WAVES = 16  # target scan tasks ~= 16 waves across the cores


def auto_max_partition_bytes(input_bytes: int, cpus: int | None = None) -> int:
    """Scan-split size from estimated input bytes: aim at ~16 task waves
    across the local cores, clamped to [4 MB, 128 MB].

    The static 4 MB local default restores scan parallelism on
    single-file miniature tables (measured round 3: q26 sf1 6.4 -> 3.7 s)
    but is a measured WALL at the sf100 decade: a 17 GB single-file scan
    at 4 MB splits is ~4300 tasks, each re-reading and re-parsing the
    multi-thousand-row-group footer — 2-column lineitem scan 167.9 s vs
    14.2 s at 128 MB splits (round 9, BENCH_r09 notes; the hidden ~150 s
    tax inside EVERY sf100 heavy query's round-8 reading).

    The wave target is 16, NOT the throughput-optimal ~4: at 128 MB
    splits each map task external-sorts multi-million-row join/agg
    inputs, and the spill-then-merge transient DOUBLES per-task disk —
    measured at sf100, q139's shuffle footprint grew past 52 GB and
    ENOSPC'd the sandbox where the same query at 32 MB splits completes
    in 341.5 s (vs 421.2 s at 4 MB and 480.4 s in round 8).  ~16 waves
    keeps map inputs ~1M rows (no external sort), costs ~16 s of footer
    tax on the largest single-file scan, and reaches the 128 MB cluster
    default at >= 64 GB inputs where multi-file layouts amortize the
    footer anyway.  sf0.1/sf1 stay at the 4 MB floor, sf10 ~1.8 GB ->
    4 MB (round-8 posture unchanged), sf30 ~5.4 GB -> ~10 MB, sf100
    ~18 GB -> ~36 MB.  ``SPARK_GRAFT_MAX_PARTITION_BYTES`` overrides."""
    if cpus is None:
        env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(env_cpus) if env_cpus else (os.cpu_count() or 32)
    target = input_bytes // max(1, cpus * AUTO_SPLIT_WAVES)
    return max(AUTO_SPLIT_FLOOR_BYTES, min(AUTO_SPLIT_CAP_BYTES, target))


def auto_state_store(source_bytes: int) -> str | None:
    """State-store provider from the STREAMED SOURCE's estimated bytes:
    ``"rocksdb"`` at or above the measured 256 MB crossover (heap is
    faster below — RocksDB pays fixed per-batch overhead — and OOM-prone
    above), else ``None`` (inherit the session default, normally heap).
    Applied per stream by ``run_to_completion(input_bytes=...)``, where
    the evidence lives; an explicit ``state_store``/env knob wins."""
    return (
        "rocksdb" if source_bytes >= AUTO_ROCKSDB_THRESHOLD_BYTES else None
    )


def _driver_memory_gb(
    input_bytes: int | None = None, host_ram_bytes: int | None = None
) -> int:
    """24g base target (768 MB per local thread on the 32-core harness),
    clamped to half of physical RAM and floored at 4g, so hosts smaller
    than the harness degrade to Spark's own spilling inside a heap the
    OS can actually back.

    With ``input_bytes``, the heap additionally scales to ~3x the input
    (still clamped to half of RAM): the round-8 sf100 soak measured the
    24g heap OOMing mid shuffle-write on q199's 600M-row order-key
    exchange (16 GB lineitem-dominated input; GCLocker starvation under
    32 threads) at BOTH 159 and 476 shuffle partitions — width alone
    cannot fix a heap wall — while 45g (= 3x input) completes it.  sf30
    (12 GB, 180M rows) ran at 24g = 2x input, so 3x carries measured
    headroom.  Local-mode only: one JVM hosts the driver and all 32
    executor threads; a real cluster sizes executor memory per core
    instead.  ``host_ram_bytes`` defaults to the physical RAM of this
    host."""
    try:
        if host_ram_bytes is None:
            host_ram_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf(
                "SC_PHYS_PAGES"
            )
        half_gb = int(host_ram_bytes / (1 << 30) / 2)
    except (ValueError, OSError, AttributeError):
        half_gb = 24
    base = max(4, min(24, half_gb))
    if input_bytes is None:
        return base
    need = -(-3 * input_bytes // (1 << 30))  # ceil(3x input, in GiB)
    return max(base, min(half_gb, need))


def _merge_conf(conf: dict[str, str], extra_conf: dict[str, str]) -> None:
    """Apply caller overrides onto the session defaults, in place.

    ``extraJavaOptions`` keys MERGE (string-append) rather than replace:
    a caller adding one JVM flag must not silently drop
    ``-XX:+UseParallelGC`` (the measured sf100 GCLocker fix) or
    ``-Dderby.system.home``.  Caller flags come LAST, so an explicit
    ``-XX:+UseG1GC`` etc. still wins (for repeated/conflicting flags the
    JVM honors the last one).  To truly remove a default flag, set the
    key with ``spark-submit --conf`` instead, which bypasses this merge.
    Every other key is a plain replace.
    """
    for jvm_key in (
        "spark.driver.extraJavaOptions",
        "spark.executor.extraJavaOptions",
    ):
        if jvm_key in extra_conf and conf.get(jvm_key):
            conf[jvm_key] = f"{conf[jvm_key]} {extra_conf[jvm_key]}"
    for k, v in extra_conf.items():
        if k not in (
            "spark.driver.extraJavaOptions",
            "spark.executor.extraJavaOptions",
        ) or not conf.get(k):
            conf[k] = v


def get_spark(
    app_name: str = "ominimo-dynamic-data-pipeline-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
    input_bytes: int | None = None,
) -> SparkSession:
    """Build (or reuse) the configured SparkSession.

    ``master`` defaults to ``local[N]`` where N comes from
    ``$SPARK_GRAFT_CPUS`` (driver contract) or all cores.

    ``input_bytes`` (e.g. ``estimate_input_bytes(sf_dir)``) enables
    auto-posture for the shuffle width via
    :func:`auto_shuffle_partitions` (derived from the measured sf30
    spill wall).  The ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` env knob always
    wins over the auto choice.  The state-store provider is chosen per
    STREAM (``run_to_completion(input_bytes=...)`` →
    :func:`auto_state_store`), not per session.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    # SPARK_GRAFT_DRIVER_MEMORY (e.g. "48g") wins; else auto-scale with
    # the input estimate (static conf — only applies to a FRESH JVM;
    # getOrCreate reuses an existing session's heap unchanged)
    env_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY")
    conf["spark.driver.memory"] = (
        env_mem if env_mem else f"{_driver_memory_gb(input_bytes)}g"
    )
    # Scale knob (the "cluster deployments override via spark-submit"
    # escape hatch, usable without spark-submit): the 32-partition local
    # default right-sizes the miniature bench, but a single 180M-row
    # shuffle across 32 partitions spills and GC-thrashes (sf30 soak:
    # q139 went superlinear at 32, linear again at 128).  AQE coalesces
    # DOWN from the initial value, never up — so the initial width is
    # the scale lever.
    env_shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env_shuffle:
        conf["spark.sql.shuffle.partitions"] = env_shuffle
    elif input_bytes is not None:
        conf["spark.sql.shuffle.partitions"] = str(
            auto_shuffle_partitions(input_bytes)
        )
    # Scan-split auto-posture (round 9): the static 4 MB local split is a
    # measured 12x scan wall on single-file sf100 tables (footer re-parse
    # per task); walk toward the 128 MB cluster default as input grows.
    env_split = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if env_split:
        conf["spark.sql.files.maxPartitionBytes"] = env_split
    elif input_bytes is not None:
        conf["spark.sql.files.maxPartitionBytes"] = str(
            auto_max_partition_bytes(input_bytes)
        )
    # State-store scale knob: the default HDFSBackedStateStore keeps all
    # streaming state on the JVM heap — session-window state carrying
    # transcript-sized strings OOMed the 24g heap at sf30 (q151).
    # RocksDB keeps state off-heap/on-disk, the 100 TB deployment
    # posture; opt in per run because it adds per-batch overhead the
    # miniature bench doesn't need.
    # The state-store provider is NOT auto-set at session level: the
    # measured crossover keys on the STREAMED SOURCE's size, which the
    # session cannot know — run_to_completion(input_bytes=...) applies
    # auto_state_store per stream.  The env knob remains the session-wide
    # override.
    env_store = os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower()
    if env_store == "rocksdb":
        conf["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    if extra_conf:
        _merge_conf(conf, extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
