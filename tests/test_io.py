"""Direct source/sink roundtrips for every declared format (S1-S5):
json / csv / parquet / orc / text / binaryFile sources, format-generic
sinks with partitionBy + repartition + CSV array flattening."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ominimo_dynamic_data_pipeline_spark.io.reader import read_source
from ominimo_dynamic_data_pipeline_spark.io.writer import write_sink


def _frame(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5)],
        schema="id bigint, k string, v double",
    )


def _roundtrip(spark, tmp_path, fmt, **source_extra):
    df = _frame(spark)
    path = str(tmp_path / fmt)
    write_sink(df, {"input": "x", "path": path, "format": fmt})
    back = read_source(
        spark, {"name": "x", "path": path, "format": fmt, **source_extra}
    )
    return back


def test_parquet_roundtrip(spark, tmp_path):
    back = _roundtrip(spark, tmp_path, "parquet")
    assert back.count() == 3
    assert dict(back.dtypes)["v"] == "double"


def test_orc_roundtrip(spark, tmp_path):
    back = _roundtrip(spark, tmp_path, "orc")
    assert back.count() == 3
    assert dict(back.dtypes)["id"] == "bigint"


def test_xml_roundtrip_default_rowtag(spark, tmp_path):
    # writer/reader share the "row" rowTag default; values survive the trip
    back = _roundtrip(spark, tmp_path, "xml")
    assert back.count() == 3
    got = {(r["id"], r["k"], r["v"]) for r in back.collect()}
    assert got == {(1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5)}


def test_xml_nested_elements_become_structs(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, ("x", 2.0)), (2, ("y", 3.0))],
        schema="id bigint, meta struct<name:string, score:double>",
    )
    path = str(tmp_path / "xmlnested")
    write_sink(df, {"input": "x", "path": path, "format": "xml"})
    back = read_source(spark, {"name": "x", "path": path, "format": "xml"})
    assert dict(back.dtypes)["meta"].startswith("struct<")
    assert back.filter(F.col("meta.name") == "y").count() == 1


def test_json_roundtrip_with_declared_schema(spark, tmp_path):
    back = _roundtrip(
        spark, tmp_path, "json", schema="id bigint, k string, v double"
    )
    assert sorted(r["id"] for r in back.collect()) == [1, 2, 3]


def test_csv_roundtrip_flattens_arrays(spark, tmp_path):
    df = _frame(spark).withColumn("tags", F.array(F.lit("x"), F.lit("y")))
    path = str(tmp_path / "csvdir")
    write_sink(df, {"input": "x", "path": path, "format": "csv"})
    back = read_source(
        spark,
        {
            "name": "x",
            "path": path,
            "format": "csv",
            "schema": "id bigint, k string, v double, tags string",
        },
    )
    row = back.filter(F.col("id") == 1).collect()[0]
    assert row["tags"] == "x,y"  # array flattened to comma-joined string


def test_text_source_line_per_row(spark, tmp_path):
    p = tmp_path / "raw.txt"
    p.write_text("alpha beta\ngamma\n")
    back = read_source(
        spark, {"name": "x", "path": str(p), "format": "text"}
    )
    assert back.columns == ["value"]
    assert {r["value"] for r in back.collect()} == {"alpha beta", "gamma"}


def test_binaryfile_source_reads_bytes(spark, tmp_path):
    p = tmp_path / "blob.bin"
    p.write_bytes(b"\x00\x01payload")
    back = read_source(
        spark, {"name": "x", "path": str(p), "format": "binaryfile"}
    )
    row = back.collect()[0]
    assert bytes(row["content"]) == b"\x00\x01payload"
    assert row["length"] == 9


def test_partitioned_sink_prunes(spark, tmp_path):
    df = _frame(spark)
    path = str(tmp_path / "part")
    write_sink(
        df,
        {
            "input": "x",
            "path": path,
            "format": "parquet",
            "partitionBy": ["k"],
            "repartition": 1,
        },
    )
    back = spark.read.parquet(path).filter(F.col("k") == "a")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == 2
    # partition filter must prune at the source, not post-scan
    assert "PartitionFilters: [isnotnull(k" in plan


def test_json_permissive_corrupt_record_capture(spark, tmp_path):
    # bad records land in the corrupt-record column instead of failing the
    # job — the posture a 100 TB ingest needs (quarantine, don't crash).
    p = tmp_path / "mixed.json"
    p.write_text('{"id": 1, "v": 2.5}\n{not json at all}\n{"id": 3, "v": 9.0}\n')
    back = read_source(
        spark,
        {
            "name": "x",
            "path": str(p),
            "format": "json",
            "schema": "id bigint, v double, _corrupt_record string",
            "options": {
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": "_corrupt_record",
            },
        },
    )
    rows = back.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["id"] for r in good} == {1, 3}
    assert len(bad) == 1 and "not json" in bad[0]["_corrupt_record"]


def test_csv_dropmalformed_skips_bad_rows(spark, tmp_path):
    p = tmp_path / "mixed.csv"
    p.write_text("id,v\n1,2.5\nnot,a,valid,row,at,all\n3,9.0\n")
    back = read_source(
        spark,
        {
            "name": "x",
            "path": str(p),
            "format": "csv",
            "schema": "id bigint, v double",
            "options": {"mode": "DROPMALFORMED"},
        },
    )
    assert sorted(r["id"] for r in back.collect()) == [1, 3]


def test_custom_python_datasource_partitions_and_determinism(spark):
    """The synthetic_events Python DataSource (Spark 4 extension point)
    plans range partitions driver-side, generates rows executor-side,
    and is a pure function of the row index."""
    from ominimo_dynamic_data_pipeline_spark.io.pydatasource import (
        register_synthetic_events,
    )

    register_synthetic_events(spark)

    def read(n, parts):
        return (
            spark.read.format("synthetic_events")
            .option("n_rows", n)
            .option("num_partitions", parts)
            .load()
        )

    df = read(1000, 8)
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 1000
    # partitioning must not change content
    a = sorted(map(tuple, read(100, 1).collect()))
    b = sorted(map(tuple, read(100, 7).collect()))
    assert a == b
    row = dict(zip(df.columns, a[2]))
    assert row["event_id"] == 2
    assert row["user_id"] == (2 * 2654435761) % 9973
    assert row["event_type"] == "purchase"


def test_sink_zorder_layout_tightens_both_dimensions(spark, tmp_path):
    """zorderBy sink option: per-file min/max extents must be tight in
    BOTH dimensions (the q104 contract) — each output file covers a
    small fraction of each value range, where a linear sort is tight in
    one dimension only."""
    import pyspark.sql.functions as F

    from ominimo_dynamic_data_pipeline_spark.io.writer import write_sink

    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("bigint").alias("y"),
    )
    path = str(tmp_path / "zordered")
    write_sink(
        df,
        {
            "paths": [path],
            "format": "parquet",
            "zorderBy": ["x", "y"],
            "repartition": 16,
        },
    )
    back = spark.read.parquet(path).withColumn(
        "f", F.input_file_name()
    )
    ext = back.groupBy("f").agg(
        (F.max("x") - F.min("x")).alias("dx"),
        (F.max("y") - F.min("y")).alias("dy"),
    ).collect()
    assert len(ext) > 4
    # average per-file coverage of each 0..63 range well under the whole
    avg_dx = sum(r["dx"] for r in ext) / len(ext)
    avg_dy = sum(r["dy"] for r in ext) / len(ext)
    assert avg_dx < 40 and avg_dy < 40
    # roundtrip content is intact
    assert back.count() == n


def test_sink_zorder_has_no_global_window(spark, tmp_path):
    """The Morton key scaling must be a broadcast min/max projection —
    a global rank window would funnel the full-width frame through one
    partition (the 100 TB OOM cliff the sink exists to avoid)."""
    import pyspark.sql.functions as F

    from ominimo_dynamic_data_pipeline_spark.io.writer import write_sink

    df = spark.range(256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("bigint").alias("y")
    )
    captured = {}
    orig = type(df).sortWithinPartitions

    def spy(self, *a, **k):
        captured["plan"] = self._jdf.queryExecution().toString()
        return orig(self, *a, **k)

    import unittest.mock as mock

    with mock.patch.object(type(df), "sortWithinPartitions", spy):
        write_sink(
            df,
            {"paths": [str(tmp_path / "z")], "format": "parquet",
             "zorderBy": ["x", "y"]},
        )
    assert "Window" not in captured["plan"]


def test_sink_zorder_supports_dates_rejects_strings(spark, tmp_path):
    """Temporal z-order keys scale via their epoch ordinal; a string key
    must FAIL FAST (a silent cast-to-double would NULL every Morton key
    and collapse the range partitioner to one partition)."""
    import pyspark.sql.functions as F
    import pytest

    from ominimo_dynamic_data_pipeline_spark.io.writer import write_sink

    df = spark.range(256).select(
        F.date_add(F.lit("2024-01-01"), (F.col("id") % 64).cast("int")).alias("d"),
        (F.col("id") / 64).cast("bigint").alias("y"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )
    path = str(tmp_path / "zdate")
    write_sink(
        df, {"paths": [path], "format": "parquet", "zorderBy": ["d", "y"]}
    )
    assert spark.read.parquet(path).count() == 256
    with pytest.raises(ValueError, match="numeric, date, or timestamp"):
        write_sink(
            df,
            {"paths": [str(tmp_path / "zs2")], "format": "parquet",
             "zorderBy": ["s", "y"]},
        )


def test_sink_zorder_rejects_conflicting_sort_by(spark, tmp_path):
    import pytest

    from ominimo_dynamic_data_pipeline_spark.io.writer import write_sink

    df = spark.range(10)
    with pytest.raises(ValueError, match="mutually exclusive"):
        write_sink(
            df,
            {"paths": [str(tmp_path / "zs")], "format": "parquet",
             "zorderBy": ["id", "id"], "sortBy": ["id"]},
        )


def test_sink_sort_by_option(spark, tmp_path):
    import pyspark.sql.functions as F

    from ominimo_dynamic_data_pipeline_spark.io.writer import write_sink

    df = spark.range(100).select(
        F.col("id"), (99 - F.col("id")).alias("rev")
    )
    path = str(tmp_path / "sorted")
    write_sink(
        df,
        {"paths": [path], "format": "parquet", "repartition": 1,
         "sortBy": ["rev"]},
    )
    rows = spark.read.parquet(path).collect()
    assert [r["rev"] for r in rows] == sorted(r["rev"] for r in rows)


def test_overwrite_partitions_replaces_only_touched(spark, tmp_path):
    """saveMode=overwrite_partitions must replace exactly the partitions
    present in the incoming frame: untouched partitions survive, touched
    ones are fully replaced (not appended), and the mode refuses to run
    without partitionBy (a plain overwrite would truncate the table)."""
    from ominimo_dynamic_data_pipeline_spark.io.writer import write_sink

    path = str(tmp_path / "t")
    full = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("c", 4)], schema="k string, v bigint"
    )
    write_sink(full, {"path": path, "partitionBy": ["k"],
                      "saveMode": "overwrite"})
    patch = spark.createDataFrame([("a", 99)], schema="k string, v bigint")
    write_sink(patch, {"path": path, "partitionBy": ["k"],
                       "saveMode": "overwrite_partitions"})
    got = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {("a", 99), ("b", 3), ("c", 4)}  # a replaced, b/c intact
    with pytest.raises(ValueError, match="requires partitionBy"):
        write_sink(patch, {"path": path, "saveMode": "overwrite_partitions"})


def test_bucketed_sink_join_is_exchange_free(spark, tmp_path):
    """bucketBy sink: two tables bucketed on the same key join WITHOUT
    any exchange — the write-once, join-many layout the 100 TB posture
    pays one shuffle for at write time."""
    from ominimo_dynamic_data_pipeline_spark.io.writer import write_sink

    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    spark.sql("DROP TABLE IF EXISTS bt_orders")
    spark.sql("DROP TABLE IF EXISTS bt_customer")
    write_sink(
        orders,
        {
            "input": "orders",
            "paths": [str(tmp_path / "bt_orders")],
            "format": "parquet",
            "table": "bt_orders",
            "bucketBy": {"buckets": 8, "cols": ["o_custkey"]},
            "sortBy": ["o_custkey"],
        },
    )
    write_sink(
        cust,
        {
            "input": "customer",
            "paths": [str(tmp_path / "bt_customer")],
            "format": "parquet",
            "table": "bt_customer",
            "bucketBy": {"buckets": 8, "cols": ["c_custkey"]},
            "sortBy": ["c_custkey"],
        },
    )
    bo = spark.table("bt_orders")
    bc = spark.table("bt_customer")
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bo.join(bc, bo.o_custkey == bc.c_custkey)
        from tests.test_plans import plan_of  # reuse the plan renderer
    except ImportError:
        from test_plans import plan_of  # pytest rootdir import mode
    finally:
        pass
    try:
        p = plan_of(j)
        assert "Exchange" not in p, p
        assert "SortMergeJoin" in p
        # and the result is right
        assert j.count() == orders.join(
            cust, orders.o_custkey == cust.c_custkey
        ).count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS bt_orders")
        spark.sql("DROP TABLE IF EXISTS bt_customer")


def test_bucketed_sink_validation(spark, tmp_path):
    from ominimo_dynamic_data_pipeline_spark.io.writer import write_sink

    df = spark.range(3)
    base = {
        "input": "x",
        "paths": [str(tmp_path / "t")],
        "format": "parquet",
    }
    with pytest.raises(ValueError, match="buckets must be a positive int"):
        write_sink(df, {**base, "table": "t1",
                        "bucketBy": {"buckets": 0, "cols": ["id"]}})
    with pytest.raises(ValueError, match="at least one column"):
        write_sink(df, {**base, "table": "t1",
                        "bucketBy": {"buckets": 4, "cols": []}})
    with pytest.raises(ValueError, match="requires a 'table' name"):
        write_sink(df, {**base, "bucketBy": {"buckets": 4, "cols": ["id"]}})
    with pytest.raises(ValueError, match="mutually exclusive"):
        write_sink(df, {**base, "table": "t1", "zorderBy": ["id", "id"],
                        "bucketBy": {"buckets": 4, "cols": ["id"]}})
    with pytest.raises(ValueError, match="at most one path"):
        write_sink(df, {**base, "table": "t1",
                        "paths": [str(tmp_path / "a"), str(tmp_path / "b")],
                        "bucketBy": {"buckets": 4, "cols": ["id"]}})


def test_unsupported_source_format_raises(spark):
    with pytest.raises(ValueError, match="Unsupported source format: 'avro'"):
        read_source(spark, {"name": "x", "path": "unused", "format": "avro"})


def test_text_source_ignores_declared_schema(spark, tmp_path):
    p = tmp_path / "raw.txt"
    p.write_text("alpha\n")
    back = read_source(
        spark, {"name": "x", "path": str(p), "format": "text", "schema": "n int"}
    )
    assert back.columns == ["value"]
