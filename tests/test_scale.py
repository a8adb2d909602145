"""Scale-knob tests: salted joins return exactly the plain-join result;
bucketed tables join without an exchange on the bucketed key."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ominimo_dynamic_data_pipeline_spark.operators import scale
from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table
from tests.test_plans import plan_of


def _sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_salted_join_equals_plain_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    # engineer skew: every order keyed to one hot customer plus originals
    hot = o.withColumn("o_custkey", F.lit(1).cast(o.schema["o_custkey"].dataType))
    skewed = o.unionByName(hot).withColumnRenamed("o_custkey", "c_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    plain = skewed.join(c, on="c_custkey")
    salted = scale.salted_join(skewed, c, on="c_custkey", salt_factor=4)
    cols = ["c_custkey", "o_orderkey", "c_mktsegment"]
    assert _sorted_rows(salted, cols) == _sorted_rows(plain, cols)


def test_salted_left_join_preserves_unmatched(spark):
    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (99, "c")], schema="k bigint, v string"
    )
    right = spark.createDataFrame([(1, "x")], schema="k bigint, w string")
    out = scale.salted_join(left, right, on="k", salt_factor=3, how="left")
    rows = _sorted_rows(out, ["k", "v", "w"])
    assert (99, "c", None) in rows
    assert len(rows) == 3


def test_salted_join_salt_is_deterministic_under_recomputation(spark, sf_dir):
    # the salt must be a pure function of row content: re-evaluating the
    # whole lineage (fresh frames, no cache) must produce the identical
    # result set — the guarantee a task retry / speculative re-run relies
    # on.  A monotonically_increasing_id-derived salt fails this whenever
    # partition row order shifts.
    def build():
        o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
        skewed = o.withColumnRenamed("o_custkey", "c_custkey").repartition(7)
        c = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        return scale.salted_join(skewed, c, on="c_custkey", salt_factor=4)

    cols = ["c_custkey", "o_orderkey", "c_mktsegment"]
    assert _sorted_rows(build(), cols) == _sorted_rows(build(), cols)
    # and the salt expression itself contains no nondeterministic node
    plan = plan_of(build())
    assert "monotonically_increasing_id" not in plan
    assert "rand(" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    # warehouse + metastore live under /tmp via the session factory's
    # static configs (spark.sql.warehouse.dir cannot change at runtime)
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    scale.write_bucketed(c, "t_cust_b", "c_custkey", num_buckets=8)
    scale.write_bucketed(
        o.withColumnRenamed("o_custkey", "c_custkey"), "t_ord_b",
        "c_custkey", num_buckets=8,
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = scale.bucketed_join(spark, "t_cust_b", "t_ord_b", on="c_custkey")
        p = plan_of(joined)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p  # co-located: bucket layout replaces shuffle
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS t_cust_b")
        spark.sql("DROP TABLE IF EXISTS t_ord_b")


def test_subset_copartition_interval_join_zero_exchange(spark, sf_dir):
    # The q139 at-scale layout (round 10, BENCH_sf100.json: 445.1 ->
    # 62.7 s on 150M spans): a custkey-bucketed span table self-joined
    # through the binned interval-overlap operator with NO exchange.
    # The join's equi-key is (custkey, bin) where bin is generated
    # per-row, so only SUBSET co-partitioning (bucket on custkey alone)
    # can ever serve it — scale.subset_copartition flips the two confs
    # that gate it and restores them on exit.
    from pyspark.sql import functions as F

    from ominimo_dynamic_data_pipeline_spark.operators.joins import (
        interval_overlap_join,
    )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey", "o_orderkey")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("start_d"),
            F.max(F.col("l_shipdate").cast("date")).alias("end_d"),
        )
    )
    scale.write_bucketed(
        spans, "t_spans_b", "o_custkey", num_buckets=8,
        sort_col="o_custkey",
    )

    def overlap(frame):
        return interval_overlap_join(
            frame,
            frame.select(
                "o_custkey",
                F.col("o_orderkey").alias("order_b"),
                F.col("start_d").alias("b_start"),
                F.col("end_d").alias("b_end"),
            ),
            "start_d", "end_d", "b_start", "b_end",
            by=["o_custkey"], bin_size=120,
        ).filter(F.col("o_orderkey") < F.col("order_b"))

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with scale.subset_copartition(spark):
            bucketed = overlap(spark.table("t_spans_b"))
            p = plan_of(bucketed)
            assert "SortMergeJoin" in p
            assert "Exchange" not in p
            got = _sorted_rows(
                bucketed, ["o_custkey", "o_orderkey", "order_b"]
            )
        # confs restored on exit
        assert (
            spark.conf.get(
                "spark.sql.requireAllClusterKeysForCoPartition"
            )
            != "false"
        )
        want = _sorted_rows(
            overlap(spans), ["o_custkey", "o_orderkey", "order_b"]
        )
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS t_spans_b")


def test_morton_key_matches_python_interleave(spark):
    # pin the bit layout: a's bit i -> 2i+1, b's bit i -> 2i
    def py_morton(a, b, bits=16):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i + 1)
            z |= ((b >> i) & 1) << (2 * i)
        return z

    vals = [(0, 0), (1, 0), (0, 1), (3, 5), (255, 1), (65535, 65535), (70000, 3)]
    df = spark.createDataFrame(vals, schema="a bigint, b bigint")
    out = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a", "b", scale.morton_key(F.col("a"), F.col("b"), 16).alias("z")
        ).collect()
    }
    for a, b in vals:
        assert out[(a, b)] == py_morton(a & 0xFFFF, b & 0xFFFF), (a, b)


def test_zorder_layout_tightens_both_dimension_spans(spark, sf_dir):
    # the production layout path (repartitionByRange on the morton key +
    # sortWithinPartitions), not q104's deterministic NTILE shim: writing
    # this layout gives every output file parquet min/max stats that are
    # tight in BOTH join dimensions, which is what lets a predicate on
    # either column skip most files at 100 TB.  Compare average per-
    # partition key-span (as a fraction of the full key range) against
    # the same partitioning done on natural (orderkey) order: z-order
    # must shrink the combined span by at least 2x.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey"
    )
    n_parts = 16

    def avg_span_fraction(df):
        spans = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                (F.max("l_partkey") - F.min("l_partkey")).alias("ps"),
                (F.max("l_suppkey") - F.min("l_suppkey")).alias("ss"),
            )
            .agg(F.avg("ps").alias("ps"), F.avg("ss").alias("ss"))
            .first()
        )
        ranges = li.agg(
            (F.max("l_partkey") - F.min("l_partkey")).alias("pr"),
            (F.max("l_suppkey") - F.min("l_suppkey")).alias("sr"),
        ).first()
        return spans["ps"] / ranges["pr"] + spans["ss"] / ranges["sr"]

    # scale both dims to the full bit range first: interleaving raw keys
    # of unequal bit width degenerates to a sort on the wider dimension
    mx = li.agg(
        F.max("l_partkey").alias("pm"), F.max("l_suppkey").alias("sm")
    ).first()
    z = scale.morton_key(
        F.col("l_partkey") * 65535 / F.lit(mx["pm"]),
        F.col("l_suppkey") * 65535 / F.lit(mx["sm"]),
        16,
    )
    zordered = (
        li.withColumn("z", z)
        .repartitionByRange(n_parts, "z")
        .sortWithinPartitions("z")
    )
    natural = li.repartitionByRange(n_parts, "l_orderkey")
    assert avg_span_fraction(zordered) * 2 < avg_span_fraction(natural)


# --------------------------------------------------------------------------
# distributed_row_number / distributed_ntile — the two-phase global-order
# operators that replace single-partition Window.orderBy (round-7 verdict:
# q154 sel_rank, q180 NTILE, q122 top-K).  Contract: bit-identical to the
# window versions for any TOTAL order, with the sort spread over
# num_partitions range partitions and zero WindowExec in the plan.
# --------------------------------------------------------------------------


def _rank_fixture(spark, n=2003):
    import random

    rng = random.Random(17)
    rows = [(i, rng.randint(0, 40), rng.random()) for i in range(n)]
    return spark.createDataFrame(rows, "id bigint, k bigint, v double")


def test_distributed_row_number_matches_global_window(spark):
    from pyspark.sql.window import Window

    df = _rank_fixture(spark)
    order = [F.desc("v"), F.asc("id")]
    ref = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(*order)).cast("bigint")
    )
    got, total = scale.distributed_row_number(df, order, rn_col="rn")
    assert total == 2003
    cols = ["id", "k", "v", "rn"]
    assert _sorted_rows(got, cols) == _sorted_rows(ref, cols)


def test_distributed_row_number_survives_union_embedding(spark):
    # regression: task partition ids RENUMBER inside a union (the right
    # branch's ids are offset by the left's partition count), so the rank
    # pass must read the pid stamped on the rows at checkpoint time, never
    # TaskContext.partitionId() — before the stamp, got.exceptAll(got)
    # returned thousands of phantom rows
    df = _rank_fixture(spark)
    got, _ = scale.distributed_row_number(
        df, [F.desc("v"), F.asc("id")], rn_col="rn"
    )
    assert got.exceptAll(got).count() == 0


def test_distributed_row_number_plan_has_no_window(spark):
    # the range exchange lives behind the localCheckpoint (the final plan
    # scans the checkpointed RDD), so the visible contract is: a narrow
    # Arrow MapInPandas over the frozen partitions and zero WindowExec
    df = _rank_fixture(spark)
    got, _ = scale.distributed_row_number(
        df, [F.asc("v"), F.asc("id")], rn_col="rn", num_partitions=8
    )
    p = plan_of(got)
    assert "Window" not in p
    assert "MapInPandas" in p
    assert "Exchange" not in p  # no second shuffle after the rank pass


@pytest.mark.parametrize("nb", [1, 3, 4, 7, 5000])
def test_distributed_ntile_matches_window_ntile(spark, nb):
    from pyspark.sql.window import Window

    df = _rank_fixture(spark, n=1009)
    order = [F.asc("k"), F.asc("id")]
    ref = df.select(
        "*", F.ntile(nb).over(Window.orderBy(*order)).alias("b")
    )
    got = scale.distributed_ntile(df, nb, order, out_col="b")
    assert dict(got.dtypes)["b"] == "int"
    cols = ["id", "k", "v", "b"]
    assert _sorted_rows(got, cols) == _sorted_rows(ref, cols)


@pytest.mark.parametrize("out_col", ["my bucket", "b`x"])
def test_distributed_ntile_accepts_any_output_name(spark, out_col):
    from pyspark.sql.window import Window

    df = _rank_fixture(spark, n=101)
    order = [F.asc("k"), F.asc("id")]
    ref = df.select(
        "*", F.ntile(4).over(Window.orderBy(*order)).alias("b")
    )
    got = scale.distributed_ntile(df, 4, order, out_col=out_col)
    assert got.columns == ["id", "k", "v", out_col]
    got = got.toDF("id", "k", "v", "b")
    cols = ["id", "k", "v", "b"]
    assert _sorted_rows(got, cols) == _sorted_rows(ref, cols)


def test_distributed_ntile_rejects_internal_rank_column(spark):
    df = _rank_fixture(spark, n=10).withColumn("__dntile_rn", F.lit(1))
    with pytest.raises(ValueError, match="__dntile_rn"):
        scale.distributed_ntile(df, 2, [F.asc("id")])


def test_distributed_ntile_rejects_nonpositive_buckets(spark):
    df = _rank_fixture(spark, n=10)
    with pytest.raises(ValueError, match="n_buckets"):
        scale.distributed_ntile(df, 0, [F.asc("id")])


def test_copurchase_levers_are_output_preserving(spark, sf_dir):
    # the two q97 scale levers (adaptive apriori prefilter; salted RLE
    # pair counting) must be bit-identical to the plain shape in every
    # combination — including on data where the prefilter really prunes
    # (sf0.001/sf0.01 have parts in < 3 orders)
    from ominimo_dynamic_data_pipeline_spark.queries.analytics import (
        _copurchase_pairs,
    )

    cols = ["part_a", "part_b", "n_orders"]
    base = _sorted_rows(
        _copurchase_pairs(spark, sf_dir, prefilter=False, rle_counting=False),
        cols,
    )
    assert base  # non-trivial fixture
    for pf in (True, False):
        for rle in (True, False):
            got = _sorted_rows(
                _copurchase_pairs(
                    spark, sf_dir, prefilter=pf, rle_counting=rle
                ),
                cols,
            )
            assert got == base, (pf, rle)


def test_apriori_prefilter_prunes_rare_parts(spark):
    # micro-fixture with a genuinely infrequent part: the prefilter must
    # drop it from the expansion without changing the frequent pairs
    from ominimo_dynamic_data_pipeline_spark.queries.analytics import (
        _apriori_prefilter,
    )

    rows = [(o, p) for o in range(1, 5) for p in (10, 20)]  # 10,20 in 4 orders
    rows += [(1, 30)]  # part 30 appears once -> provably pair-free
    li = spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint")
    out = _apriori_prefilter(li, support=3)
    kept = {r["l_partkey"] for r in out.collect()}
    assert kept == {10, 20}
    # nothing-to-prune input comes back as the SAME frame (no join added)
    dense = spark.createDataFrame(
        [(o, p) for o in range(1, 5) for p in (10, 20)],
        "l_orderkey bigint, l_partkey bigint",
    )
    assert _apriori_prefilter(dense, support=3) is dense
