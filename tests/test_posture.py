"""Auto-posture rules (round-7 verdict item #3): shuffle width and
state-store provider derive from estimated input bytes, pinned at the
MEASURED boundaries from the sf10/sf30 soak (BENCH_sf30.json) so the
encoded defaults can never drift from their evidence."""

from __future__ import annotations

from ominimo_dynamic_data_pipeline_spark.session import (
    AUTO_ROCKSDB_THRESHOLD_BYTES,
    auto_shuffle_partitions,
    auto_state_store,
    estimate_input_bytes,
)

GB = 1 << 30


def test_shuffle_width_floor_at_miniature_scale():
    # sf0.1 (~40 MB) and sf1 (~400 MB) stay at the local 32 default —
    # the measured-good width for the miniature bench
    assert auto_shuffle_partitions(40 << 20) == 32
    assert auto_shuffle_partitions(400 << 20) == 32


def test_shuffle_width_at_measured_walls():
    # sf30 (~12 GB): 32 spilled + GC-thrashed (q139 superlinear), 128 was
    # linear — the rule must produce >= 128 there.  sf100 (~16 GB,
    # lineitem-dominated, 600M rows): 159 partitions (3.8M rows each)
    # OOMed q199 in the round-8 soak — the rule must reproduce the
    # measured-good ~1.2M-rows/partition density (>= 400 partitions).
    assert auto_shuffle_partitions(12 * GB) >= 128
    assert auto_shuffle_partitions(15_959_453_514) >= 400


def test_shuffle_width_sf10_overwide_is_safe_not_narrow():
    # sf10 (~1.8 GB) measured fine at 32; the rule may go wider (AQE
    # coalesces down, never up) but must never go NARROWER than 32
    assert 32 <= auto_shuffle_partitions(2 * GB) <= 128


def test_shuffle_width_cap_and_monotonicity():
    assert auto_shuffle_partitions(100_000 * GB) == 4096
    prev = 0
    for b in (0, 1 << 20, 1 * GB, 4 * GB, 12 * GB, 100 * GB, 10_000 * GB):
        cur = auto_shuffle_partitions(b)
        assert cur >= prev
        prev = cur


def test_state_store_crossover_pins_measured_points():
    # the crossover keys on the STREAMED SOURCE's bytes: sf10 events
    # (120 MB) -> heap wins (16.0 vs 22.0 s); sf30 events (359 MB) ->
    # RocksDB wins (60.0 vs 68.1 s, and heap OOMed session state)
    assert auto_state_store(120 << 20) is None
    assert auto_state_store(359 << 20) == "rocksdb"
    # boundary behavior is explicit, not accidental
    assert auto_state_store(AUTO_ROCKSDB_THRESHOLD_BYTES - 1) is None
    assert auto_state_store(AUTO_ROCKSDB_THRESHOLD_BYTES) == "rocksdb"


def test_estimate_input_bytes_sums_data_files(tmp_path):
    d = tmp_path / "ds"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 100)
    (d / "part-1.parquet").write_bytes(b"y" * 50)
    (d / "_SUCCESS").write_bytes(b"")  # metadata files don't count
    (d / ".hidden").write_bytes(b"z" * 999)
    lone = tmp_path / "file.parquet"
    lone.write_bytes(b"w" * 7)
    assert estimate_input_bytes(str(d)) == 150
    assert estimate_input_bytes(str(d), str(lone)) == 157
    assert estimate_input_bytes(str(tmp_path / "missing")) == 0


def test_batch_gc_posture_pinned():
    # sf100 soak (BENCH_sf100.json): G1's GCLocker-starved allocation
    # path stalled the 600M-row shuffles (q199 663.8 -> 254.0 s under
    # ParallelGC) and threw OOM with free heap remaining (q97 OOM ->
    # 318.9 s).  Both JVMs (driver governs local mode, executor a real
    # cluster) must carry the throughput collector, and long multi-query
    # sessions must GC periodically so dead checkpoint/broadcast blocks
    # are actually freed.
    from ominimo_dynamic_data_pipeline_spark.session import _DEFAULTS

    assert "-XX:+UseParallelGC" in _DEFAULTS["spark.driver.extraJavaOptions"]
    assert (
        "-XX:+UseParallelGC" in _DEFAULTS["spark.executor.extraJavaOptions"]
    )
    assert _DEFAULTS["spark.cleaner.periodicGC.interval"] == "5min"


def test_driver_memory_scales_with_input():
    from ominimo_dynamic_data_pipeline_spark.session import _driver_memory_gb

    # the measured rule, pinned on an injected harness-sized host (the
    # sf100 soak ran with 125 GB RAM) so it holds on any test machine
    big = 128 * GB
    # base behavior unchanged without an estimate
    assert _driver_memory_gb(host_ram_bytes=big) == 24
    # measured wall: 16 GB lineitem-dominated input OOMed the 24g heap
    # mid shuffle-write (q199 sf100) at any width; the measured 45g
    # (~3x input, see session.py/_driver_memory_gb) clears it
    assert _driver_memory_gb(15_959_453_514, host_ram_bytes=big) >= 45
    # miniature inputs stay at the 24g base (no pointless giant heaps)
    assert _driver_memory_gb(40 << 20, host_ram_bytes=big) == 24


def test_driver_memory_clamps_to_half_of_host_ram():
    from ominimo_dynamic_data_pipeline_spark.session import _driver_memory_gb

    # a 15 GB host can back at most half its RAM as heap, however large
    # the input; the 4g floor still holds
    small = 15 * GB
    for input_bytes in (None, 40 << 20, 15_959_453_514):
        heap = _driver_memory_gb(input_bytes, host_ram_bytes=small)
        assert 4 <= heap <= 7.5
    assert _driver_memory_gb(host_ram_bytes=2 * GB) == 4


def test_extra_conf_merges_java_options_instead_of_replacing():
    # A caller adding one JVM flag must not silently drop the ParallelGC
    # posture or the derby.system.home pin (round-8 advice item).
    from ominimo_dynamic_data_pipeline_spark.session import (
        _DEFAULTS,
        _merge_conf,
    )

    conf = dict(_DEFAULTS)
    _merge_conf(
        conf,
        {
            "spark.driver.extraJavaOptions": "-Xss16m",
            "spark.executor.extraJavaOptions": "-Xss16m",
            "spark.sql.shuffle.partitions": "99",
        },
    )
    d = conf["spark.driver.extraJavaOptions"]
    assert "-XX:+UseParallelGC" in d and "-Dderby.system.home" in d
    # caller flag appended LAST so a conflicting flag would win in the JVM
    assert d.endswith("-Xss16m")
    e = conf["spark.executor.extraJavaOptions"]
    assert "-XX:+UseParallelGC" in e and e.endswith("-Xss16m")
    # non-JVM keys replace as before
    assert conf["spark.sql.shuffle.partitions"] == "99"
    # a key with no default passes straight through
    conf2 = {"other": "x"}
    _merge_conf(conf2, {"spark.driver.extraJavaOptions": "-Xss8m"})
    assert conf2["spark.driver.extraJavaOptions"] == "-Xss8m"


def test_scan_split_scales_with_input():
    # round-9 measured wall: a 17 GB single-file lineitem scan at the
    # miniature-good 4 MB splits is ~4300 tasks each re-parsing the
    # multi-thousand-row-group footer — 167.9 s vs 14.2 s at 128 MB
    # (2-column scan, local[32]).  The rule keeps miniature inputs at
    # the 4 MB floor and reaches the 128 MB cluster default by sf100.
    from ominimo_dynamic_data_pipeline_spark.session import (
        auto_max_partition_bytes,
    )

    MB = 1 << 20
    # miniature floor (sf0.1 ~40 MB, sf1 ~400 MB, sf10 ~1.8 GB): the
    # round-8 measured-good 4 MB posture is unchanged
    assert auto_max_partition_bytes(40 * MB, cpus=32) == 4 * MB
    assert auto_max_partition_bytes(400 * MB, cpus=32) == 4 * MB
    assert auto_max_partition_bytes(1800 * MB, cpus=32) == 4 * MB
    # the measured sf100 point: ~36 MB splits (map inputs ~1M rows — the
    # spill-then-merge disk transient at 128 MB ENOSPC'd q139, while
    # 32 MB completed it in 341.5 s vs 421.2 s at 4 MB)
    assert 32 * MB <= auto_max_partition_bytes(18 << 30, cpus=32) <= 40 * MB
    # the 128 MB cluster default is reached for >= 64 GB inputs
    assert auto_max_partition_bytes(64 << 30, cpus=32) == 128 * MB
    # monotone, never above the cluster default
    prev = 0
    for b in (0, 40 * MB, 1 << 30, 6 << 30, 18 << 30, 1 << 40):
        cur = auto_max_partition_bytes(b, cpus=32)
        assert prev <= cur <= 128 * MB
        prev = cur
    # round-10 multi-file validation (BENCH_sf100.json
    # round10_multifile_split_validation): the same 14 GB lineitem as 64
    # files scans in 7.85 / 6.16 / 6.33 s at 4 / 34(auto) / 128 MB splits —
    # the split setting is ~irrelevant when per-file footers are small, so
    # the size-keyed rule CANNOT harmfully over-split a multi-file lake and
    # needs no layout branch.  (Single-file control: 317.9 / 46.9 / 19.1 s —
    # the footer wall lives in the layout, and the writer's default
    # multi-file output is the at-scale fix.)  The rule stays a pure
    # function of (input_bytes, cpus): pinned by re-asserting the sf100
    # value the experiment ran at.
    assert 32 * MB <= auto_max_partition_bytes(18 << 30, cpus=32) <= 40 * MB


def test_rocksdb_state_store_tuning_pinned():
    # round-9 measured pass (BENCH_r09 notes; sf30 events, cold process
    # per reading): changelog checkpointing q141 46.2 -> 36.7 s; stacking
    # trackTotalNumberOfRows=false -> 32.1 s (-30%), q151 46.4 -> 29.4 s
    # (-37%).  Result-neutral; inert under the heap provider.
    from ominimo_dynamic_data_pipeline_spark.session import _DEFAULTS

    assert (
        _DEFAULTS[
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        ]
        == "true"
    )
    assert (
        _DEFAULTS[
            "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
        ]
        == "false"
    )
