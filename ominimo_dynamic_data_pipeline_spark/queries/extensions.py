"""Catalog extensions round 2b: aggregate-function breadth, distribution
windows, unpivot/melt, an explicit Bloom-filter semi-join prefilter, SCD-1
snapshot merge, and further training-data curation operators (unigram-LM
quality scoring, per-source quotas, embedding centroids, skew-salted joins,
blocklist scoring).

Same conventions as queries/relational.py: every computed column aliased
identically in Spark and DuckDB, doubles rounded in both engines where the
aggregation order can differ, deterministic tie-breaks on every top-k.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ominimo_dynamic_data_pipeline_spark.functions.duck_numeric import (
    duck_round_expr,
    exact_str_double,
)
from ominimo_dynamic_data_pipeline_spark.operators.bloom import (
    bloom_build,
    bloom_prefilter,
)
from ominimo_dynamic_data_pipeline_spark.queries.llm import SQL_TOKS
from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# q68 — aggregate-function breadth: count_if / bool_and / bool_or / exact
# median / max_by / min_by in ONE hash aggregate (single shuffle on a
# 5-value key).  max_by/min_by carry a struct ordering key so ties are
# deterministic; the DuckDB twin expresses them as row_number picks because
# arg_max there cannot take a composite ordering value.
# --------------------------------------------------------------------------
@query(
    "q68_agg_surface",
    """
    WITH ranked AS (
        SELECT o_orderpriority, o_orderkey,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
        FROM orders),
    agg AS (
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(count_if(o_totalprice > 250000) AS BIGINT) AS big_cnt,
               bool_and(o_totalprice > 0) AS all_positive,
               bool_or(o_totalprice > 400000) AS any_giant,
               ROUND(median(o_totalprice), 2) AS med_price
        FROM orders GROUP BY o_orderpriority)
    SELECT a.o_orderpriority, a.n_orders, a.big_cnt, a.all_positive,
           a.any_giant, a.med_price,
           mx.o_orderkey AS top_order, mn.o_orderkey AS bottom_order
    FROM agg a
    JOIN (SELECT o_orderpriority, o_orderkey FROM ranked WHERE rmax = 1) mx
      USING (o_orderpriority)
    JOIN (SELECT o_orderpriority, o_orderkey FROM ranked WHERE rmin = 1) mn
      USING (o_orderpriority)
    """,
)
def q68_agg_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    price, key = F.col("o_totalprice"), F.col("o_orderkey")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_if(price > 250000).alias("big_cnt"),
        F.bool_and(price > 0).alias("all_positive"),
        F.bool_or(price > 400000).alias("any_giant"),
        duck_round_expr(F.median(price), 2).alias("med_price"),
        F.max_by(key, F.struct(price, key)).alias("top_order"),
        F.min_by(key, F.struct(price, key)).alias("bottom_order"),
    )


# --------------------------------------------------------------------------
# q69 — distribution window functions: percent_rank / cume_dist / nth_value
# per market segment.  Unique (acctbal, custkey) ordering makes the default
# RANGE frame equal to a ROWS frame, so nth_value is deterministic.  One
# exchange on c_mktsegment serves all three functions.
# --------------------------------------------------------------------------
@query(
    "q69_balance_distribution",
    """
    SELECT c_custkey, c_mktsegment,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume,
           nth_value(c_custkey, 3) OVER w AS third_poorest
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def q69_balance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        duck_round_expr(F.percent_rank().over(w), 6).alias("pct_rank"),
        duck_round_expr(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("c_custkey", 3).over(w).alias("third_poorest"),
    )


# --------------------------------------------------------------------------
# q70 — wide-to-long unpivot (melt).  The wide frame is a one-shuffle
# conditional aggregate; unpivot itself is a local Expand (rows * 5, no
# shuffle) — the shape to prefer over 5 separate filtered aggregates.
# --------------------------------------------------------------------------
_PRIORITIES = [
    ("1-URGENT", "p1_urgent"),
    ("2-HIGH", "p2_high"),
    ("3-MEDIUM", "p3_medium"),
    ("4-NOT SPECIFIED", "p4_notspec"),
    ("5-LOW", "p5_low"),
]


def _q70_sql() -> str:
    wide = ", ".join(
        f"CAST(count_if(o_orderpriority = '{val}') AS BIGINT) AS {alias}"
        for val, alias in _PRIORITIES
    )
    arms = " UNION ALL ".join(
        f"SELECT o_orderstatus, '{alias}' AS priority, {alias} AS cnt FROM wide"
        for _, alias in _PRIORITIES
    )
    return f"WITH wide AS (SELECT o_orderstatus, {wide} FROM orders GROUP BY o_orderstatus) {arms}"


@query("q70_priority_mix_unpivot", _q70_sql())
def q70_priority_mix_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        *[
            F.count_if(F.col("o_orderpriority") == val).alias(alias)
            for val, alias in _PRIORITIES
        ]
    )
    return wide.unpivot(
        ["o_orderstatus"], [alias for _, alias in _PRIORITIES], "priority", "cnt"
    )


# --------------------------------------------------------------------------
# q71 — Bloom-filter semi-join prefilter (operators/bloom.py): revenue of
# lineitems belonging to >300k orders.  Build over the small key side
# (bit_or word aggregate), broadcast 8 KiB, prefilter the fact side with a
# codegen'd bit test, exact broadcast semi join removes false positives.
# Result is exactly the plain semi join — the oracle proves it — while the
# probe-side shuffle volume at 100 TB drops to ~the true selectivity.
# --------------------------------------------------------------------------
@query(
    "q71_bloom_semi_revenue",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000)
    GROUP BY l_returnflag
    """,
)
def q71_bloom_semi_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_orderkey")
    )
    bloom = bloom_build(big, "o_orderkey")
    candidates = bloom_prefilter(l, "l_orderkey", bloom)
    exact = candidates.join(
        F.broadcast(big),
        candidates["l_orderkey"] == big["o_orderkey"],
        "left_semi",
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


# --------------------------------------------------------------------------
# q72 — SCD-1 snapshot merge (MERGE INTO semantics as a full-outer join):
# base snapshot + change set (updates % 3 == 0 with +10% price, inserts with
# shifted synthetic keys) -> coalesce per column + origin tag.  At scale the
# change set is the small side: AQE picks a broadcast; the single full-outer
# join IS the merge.  Price math is one double multiply — bit-identical
# across engines, no rounding needed.
# --------------------------------------------------------------------------
@query(
    "q72_snapshot_merge",
    """
    WITH base AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        WHERE o_orderkey % 3 <> 0),
    changes AS (
        SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice,
               'U' AS o_orderstatus
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_totalprice, 'N'
        FROM orders WHERE o_orderkey % 7 = 0)
    SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
           COALESCE(c.o_totalprice, b.o_totalprice) AS o_totalprice,
           COALESCE(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           CASE WHEN b.o_orderkey IS NULL THEN 'inserted'
                WHEN c.o_orderkey IS NULL THEN 'kept'
                ELSE 'updated' END AS origin
    FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
    """,
)
def q72_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    base = o.filter(key % 3 != 0).select("o_orderkey", "o_totalprice", "o_orderstatus")
    updates = o.filter(key % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    inserts = o.filter(key % 7 == 0).select(
        (key + 100000000).alias("o_orderkey"),
        "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    changes = updates.unionByName(inserts)
    b, c = base.alias("b"), changes.alias("c")
    merged = b.join(c, F.col("b.o_orderkey") == F.col("c.o_orderkey"), "full_outer")
    return merged.select(
        F.coalesce("c.o_orderkey", "b.o_orderkey").alias("o_orderkey"),
        F.coalesce("c.o_totalprice", "b.o_totalprice").alias("o_totalprice"),
        F.coalesce("c.o_orderstatus", "b.o_orderstatus").alias("o_orderstatus"),
        F.when(F.col("b.o_orderkey").isNull(), "inserted")
        .when(F.col("c.o_orderkey").isNull(), "kept")
        .otherwise("updated")
        .alias("origin"),
    )


# --------------------------------------------------------------------------
# q73 — unigram language-model quality score: corpus token counts (one
# shuffle), scalar corpus total via broadcast, per-doc mean negative log
# probability (second shuffle on token for the doc-term join).  The classic
# cheap perplexity proxy for corpus filtering; high scores = rare-token
# documents.  Rounded(5): the per-doc mean is an order-dependent double sum.
# --------------------------------------------------------------------------
@query(
    "q73_unigram_logprob",
    f"""
    WITH doc_toks AS (
        SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents),
    counts AS (SELECT token, COUNT(*) AS cnt FROM doc_toks GROUP BY token),
    total AS (SELECT SUM(cnt) AS tot FROM counts)
    SELECT d.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(-LN(c.cnt / t.tot)), 5) AS avg_neg_logp
    FROM doc_toks d JOIN counts c USING (token) CROSS JOIN total t
    GROUP BY d.doc_id
    """,
)
def q73_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.llm.text import tokens

    d = load_table(spark, sf_dir, "documents")
    doc_toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    counts = doc_toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("tot"))
    scored = doc_toks.join(counts, "token").crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        duck_round_expr(F.avg(-F.log(F.col("cnt") / F.col("tot"))), 5).alias(
            "avg_neg_logp"
        ),
    )


# --------------------------------------------------------------------------
# q74 — per-source quota curation (the per-domain cap of web-corpus
# pipelines): drop blocklisted sources, keep the first 15 docs per source by
# doc_id.  Single exchange on source; the window top-k never materializes
# dropped rows.
# --------------------------------------------------------------------------
@query(
    "q74_source_quota",
    """
    SELECT doc_id, source, kept_rank FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS kept_rank
        FROM documents WHERE source NOT IN ('src13', 'src7'))
    WHERE kept_rank <= 15
    """,
)
def q74_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.filter(~F.col("source").isin("src13", "src7"))
        .select("doc_id", "source", F.row_number().over(w).alias("kept_rank"))
        .filter(F.col("kept_rank") <= 15)
    )


# --------------------------------------------------------------------------
# q75 — per-label embedding centroids (semantic-dedup / clustering building
# block): posexplode each vector once, average per (label, dim).  Exploded
# layout instead of array output keeps the result oracle-hashable and the
# aggregation a plain map-side-combinable hash agg (640 groups).  The DuckDB
# twin zips unnest with generate_subscripts (1-based, matching pos+1).
# --------------------------------------------------------------------------
@query(
    "q75_embedding_centroids",
    """
    WITH expl AS (
        SELECT label, generate_subscripts(embedding, 1) AS dim,
               unnest(embedding) AS val
        FROM embeddings)
    SELECT label, dim, ROUND(AVG(val), 6) AS centroid, COUNT(*) AS n_vecs
    FROM expl GROUP BY label, dim
    """,
)
def q75_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    expl = e.select(
        "label", F.posexplode("embedding").alias("dim0", "val")
    )
    return (
        expl.groupBy("label", (F.col("dim0") + 1).alias("dim"))
        .agg(
            duck_round_expr(F.avg("val"), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


# --------------------------------------------------------------------------
# q76 — skew-salted join in the catalog: event revenue by customer segment
# through operators.scale.salted_join (deterministic content-derived salt,
# right side replicated salt_factor ways).  The oracle is the plain join —
# proving salting preserves join semantics exactly.
# --------------------------------------------------------------------------
@query(
    "q76_salted_segment_revenue",
    """
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(e.value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q76_salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.scale import salted_join

    e = load_table(spark, sf_dir, "events").select("user_id", "value")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(
        e, c.withColumnRenamed("c_custkey", "user_id"), on="user_id", salt_factor=8
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("total_value"),
    )


# --------------------------------------------------------------------------
# q77 — blocklist scoring (toxicity-style wordlist filter): hit count with
# multiplicity over normalized tokens, ratio, verdict.  Pure higher-order
# expressions over a staged token array — no shuffle at all (the narrow
# filter/projection shape that runs at parquet-scan speed at 100 TB).
# --------------------------------------------------------------------------
_BLOCKLIST = ["slow", "crash", "big", "fail"]


def _q77_sql() -> str:
    lits = ", ".join(f"'{w}'" for w in _BLOCKLIST)
    return f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS} AS tk FROM documents)
    SELECT doc_id,
           LEN(tk) AS n_tokens,
           LEN(list_filter(tk, t -> list_contains([{lits}], t))) AS block_hits,
           ROUND(LEN(list_filter(tk, t -> list_contains([{lits}], t)))
                 / GREATEST(LEN(tk), 1), 6) AS block_ratio,
           LEN(list_filter(tk, t -> list_contains([{lits}], t)))
               / GREATEST(LEN(tk), 1) > 0.05 AS flagged
    FROM toks
    """


@query("q77_blocklist_score", _q77_sql())
def q77_blocklist_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.llm.text import tokens

    d = load_table(spark, sf_dir, "documents")
    bl = F.array(*[F.lit(w) for w in _BLOCKLIST])
    staged = d.select(
        "doc_id", tokens(F.col("text")).alias("tk")
    ).withColumn("hits", F.size(F.filter("tk", lambda t: F.array_contains(bl, t))))
    ratio = F.col("hits") / F.greatest(F.size("tk"), F.lit(1))
    return staged.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("n_tokens"),
        F.col("hits").cast("bigint").alias("block_hits"),
        duck_round_expr(ratio, 6).alias("block_ratio"),
        (ratio > 0.05).alias("flagged"),
    )


# --------------------------------------------------------------------------
# q78 — contingency table via df.stat.crosstab (pairwise frequency matrix):
# one shuffle on the pair, pivoted to a wide count matrix.  Output column
# names are the priority values themselves, so the oracle builds the same
# wide shape with quoted conditional-count aliases.
# --------------------------------------------------------------------------
def _q78_sql() -> str:
    cols = ", ".join(
        f"""CAST(count_if(o_orderpriority = '{val}') AS BIGINT) AS "{val}" """
        for val, _ in _PRIORITIES
    )
    return f"SELECT o_orderstatus, {cols} FROM orders GROUP BY o_orderstatus"


@query("q78_status_priority_crosstab", _q78_sql())
def q78_status_priority_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ct = o.stat.crosstab("o_orderstatus", "o_orderpriority")
    return ct.withColumnRenamed("o_orderstatus_o_orderpriority", "o_orderstatus")


# --------------------------------------------------------------------------
# q79 — time-hierarchy rollup (the hypertable year/month/day pattern):
# GROUP BY ROLLUP over extracted date parts gives daily, monthly, yearly and
# grand-total rows in ONE pass — Expand + a single hash-agg shuffle instead
# of four scans.  Date parts are never null here, so rollup nulls
# unambiguously mark subtotal levels (lvl column pins the semantics).
# --------------------------------------------------------------------------
@query(
    "q79_event_time_rollup",
    """
    SELECT date_part('year', ts)  AS y,
           date_part('month', ts) AS m,
           date_part('day', ts)   AS d,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS total_value,
           (CASE WHEN d IS NULL THEN 1 ELSE 0 END
            + CASE WHEN m IS NULL THEN 1 ELSE 0 END
            + CASE WHEN y IS NULL THEN 1 ELSE 0 END) AS lvl
    FROM events
    GROUP BY ROLLUP (y, m, d)
    """,
)
def q79_event_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    parts = e.select(
        F.year("ts").cast("bigint").alias("y"),
        F.month("ts").cast("bigint").alias("m"),
        F.dayofmonth("ts").cast("bigint").alias("d"),
        "value",
    )
    lvl = (
        F.when(F.col("d").isNull(), 1).otherwise(0)
        + F.when(F.col("m").isNull(), 1).otherwise(0)
        + F.when(F.col("y").isNull(), 1).otherwise(0)
    )
    return (
        parts.rollup("y", "m", "d")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .withColumn("lvl", lvl.cast("int"))
    )


# --------------------------------------------------------------------------
# q103 — ORC sink/source roundtrip with partition pruning: orders are
# written as an ORC dataset partitioned by o_orderstatus, read back, and
# aggregated under a partition-key filter, so the catalog exercises
# Spark's second columnar format end to end (writer, directory
# partitioning, vectorized ORC reader, partition pruning — the 'O' filter
# never opens the F/P directories).  DuckDB cannot read ORC, so the
# oracle states the roundtrip CONTRACT instead: the same aggregate over
# the original parquet — any loss or corruption in the ORC writer/reader
# breaks the hash.  The dataset lands in a per-(user, sf) temp dir; the
# second write per bench run overwrites it.
# --------------------------------------------------------------------------
@query(
    "q103_orc_roundtrip",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE), 2)
               AS total_price,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def q103_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import getpass
    import hashlib
    import tempfile

    o = load_table(spark, sf_dir, "orders")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = (
        f"{tempfile.gettempdir()}/ominimo_spark_{getpass.getuser()}"
        f"/q103_orc_{tag}"
    )
    (
        o.write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .orc(path)
    )
    back = spark.read.orc(path).filter(F.col("o_orderstatus") == "O")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        duck_round_expr(
            F.sum(F.col("o_totalprice").cast("decimal(20,4)")).cast("double"),
            2,
        ).alias("total_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


# --------------------------------------------------------------------------
# q104 — Z-order layout quality: rows land in fixed Morton-key ranges
# (the top 6 interleaved bits over scaled (l_partkey, l_suppkey) = 64
# quadtree cells) and each cell reports its min/max extent in BOTH
# dimensions.  The per-cell spans are exactly the parquet footer min/max
# stats a Z-ordered write (`operators/scale.py:morton_key` +
# ``repartitionByRange(z).sortWithinPartitions(z)``) would give its
# files, i.e. the quantity that decides how many files a partkey-OR-
# suppkey predicate can skip at 100 TB.  Both dimensions are first
# scaled to the full 16-bit range with EXACT bigint arithmetic
# ((v * 65535) div max — portable bit-for-bit to the SQL twin): raw
# keys have unequal bit widths, and interleaving unscaled values
# degenerates to a sort on the wider dimension (the narrow one's high
# bits are always zero).  Fixed z ranges rather than NTILE: cell
# membership is a pure per-row expression (shuffle-free until the
# 64-group aggregate, no global window sort), which is also how a real
# layout job assigns files; the one-row max frame broadcasts.
# tests/test_scale.py additionally pins that the repartitionByRange
# layout tightens per-partition spans >=2x vs natural order.
# --------------------------------------------------------------------------
_Q104_BITS = 16
_Q104_CELL_SHIFT = 2 * _Q104_BITS - 6  # keep the top 6 interleaved bits
_Q104_MASK = (1 << _Q104_BITS) - 1


def _q104_oracle() -> str:
    from ominimo_dynamic_data_pipeline_spark.operators.scale import (
        morton_key_sql,
    )

    z = morton_key_sql(
        f"(l_partkey * {_Q104_MASK}) // part_max",
        f"(l_suppkey * {_Q104_MASK}) // supp_max",
        _Q104_BITS,
    )
    return f"""
    WITH mx AS (
        SELECT MAX(l_partkey) AS part_max, MAX(l_suppkey) AS supp_max
        FROM lineitem
    ),
    keyed AS (
        SELECT l_partkey, l_suppkey,
               ({z} >> {_Q104_CELL_SHIFT}) AS z_cell
        FROM lineitem, mx
    )
    SELECT z_cell,
           COUNT(*) AS n_rows,
           MIN(l_partkey) AS part_lo, MAX(l_partkey) AS part_hi,
           MIN(l_suppkey) AS supp_lo, MAX(l_suppkey) AS supp_hi,
           MAX(l_partkey) - MIN(l_partkey) AS part_span,
           MAX(l_suppkey) - MIN(l_suppkey) AS supp_span
    FROM keyed
    GROUP BY z_cell
    """


@query("q104_zorder_layout", _q104_oracle())
def q104_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.scale import morton_key

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    mx = li.agg(
        F.max("l_partkey").alias("part_max"),
        F.max("l_suppkey").alias("supp_max"),
    )
    with_mx = li.crossJoin(F.broadcast(mx))
    z = morton_key(
        F.expr(f"l_partkey * {_Q104_MASK} div part_max"),
        F.expr(f"l_suppkey * {_Q104_MASK} div supp_max"),
        _Q104_BITS,
    )
    keyed = with_mx.withColumn(
        "z_cell", F.shiftright(z, _Q104_CELL_SHIFT)
    )
    return keyed.groupBy("z_cell").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_partkey").alias("part_lo"),
        F.max("l_partkey").alias("part_hi"),
        F.min("l_suppkey").alias("supp_lo"),
        F.max("l_suppkey").alias("supp_hi"),
        (F.max("l_partkey") - F.min("l_partkey")).alias("part_span"),
        (F.max("l_suppkey") - F.min("l_suppkey")).alias("supp_span"),
    )


# --------------------------------------------------------------------------
# q107 — custom Python DataSource (Spark 4 DataSource V2 extension
# point): the catalog reads from the registered `synthetic_events`
# format — driver plans 8 range partitions, executors generate rows in
# parallel, no driver materialization (io/pydatasource.py) — and
# aggregates per event type.  Every generated column is a pure integer
# function of the row index, so the DuckDB twin regenerates the table
# with range() and the identical formulas; the money sum goes through
# ROUND(value*100) cents so no cross-engine double-accumulation is ever
# compared.  This is the template for bolting non-file systems (REST
# cursors, queues, proprietary formats) onto the same engine.
# --------------------------------------------------------------------------
_Q107_ROWS = 50_000


@query(
    "q107_custom_source_events",
    f"""
    WITH gen AS (
        SELECT i AS event_id,
               (i * 2654435761) % 9973 AS user_id,
               ['view','click','purchase'][((i * 48271) % 31) % 3 + 1]
                   AS event_type,
               ((i * 16807) % 100000) / 100.0 AS value,
               TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 1 SECOND AS ts
        FROM range({_Q107_ROWS}) t(i)
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS total_cents,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts
    FROM gen GROUP BY event_type
    """,
)
def q107_custom_source_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.io.pydatasource import (
        register_synthetic_events,
    )

    register_synthetic_events(spark)
    e = (
        spark.read.format("synthetic_events")
        .option("n_rows", _Q107_ROWS)
        .option("num_partitions", 8)
        .load()
    )
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(duck_round_expr(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


# --------------------------------------------------------------------------
# q113 — corpus snapshot diff (CDC shape): given two versions of the
# documents corpus, classify every doc_id as added / removed / changed /
# unchanged by comparing 16-byte md5 fingerprints through ONE full outer
# join on the key — the change-data-capture primitive behind incremental
# corpus refreshes (q106 is the ingest-side anti-join; this is the
# audit-side full diff).  At 100 TB only (doc_id, fingerprint, n_chars)
# shuffles — the text never leaves its scan (the q106 rule).  The "new"
# snapshot is derived deterministically from the old one (drops, edits,
# and re-keyed additions), so both engines build bit-identical inputs.
# The additions' key offset is DATA-DERIVED (max doc_id + 1): a fixed
# literal collides with real keys once the corpus outgrows it (at sf10
# doc_ids reach 9.9M), fanning out the full-outer join and silently
# corrupting every diff count — in both engines identically, so only a
# derived offset keeps the re-keyed block disjoint at any scale.
# --------------------------------------------------------------------------
def _q113_new_snapshot_sql() -> str:
    return """
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 3 THEN text || ' rev2' ELSE text END
                   AS text
        FROM documents WHERE doc_id % 13 <> 5
        UNION ALL
        SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id,
               'added ' || text AS text
        FROM documents WHERE doc_id % 17 = 2
    """


@query(
    "q113_snapshot_diff",
    f"""
    WITH new_snap AS ({_q113_new_snapshot_sql()}),
    old_fp AS (
        SELECT doc_id, md5(text) AS fp, length(text) AS n_chars
        FROM documents
    ),
    new_fp AS (
        SELECT doc_id, md5(text) AS fp, length(text) AS n_chars
        FROM new_snap
    ),
    diff AS (
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.fp <> n.fp THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               COALESCE(n.n_chars, o.n_chars) AS n_chars
        FROM old_fp o FULL OUTER JOIN new_fp n ON o.doc_id = n.doc_id
    )
    SELECT change_type,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM diff GROUP BY change_type
    """,
)
def q113_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    new_snap = (
        d.filter(F.col("doc_id") % 13 != 5)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 3, F.concat(F.col("text"), F.lit(" rev2"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .union(
            d.filter(F.col("doc_id") % 17 == 2)
            .crossJoin(
                F.broadcast(d.agg((F.max("doc_id") + 1).alias("_add_off")))
            )
            .select(
                (F.col("doc_id") + F.col("_add_off")).alias("doc_id"),
                F.concat(F.lit("added "), F.col("text")).alias("text"),
            )
        )
    )

    def fp(frame: DataFrame) -> DataFrame:
        return frame.select(
            "doc_id",
            F.md5("text").alias("fp"),
            F.length("text").alias("n_chars"),
        )

    o, n = fp(d).alias("o"), fp(new_snap).alias("n")
    diff = o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer").select(
        F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_id"),
        F.when(F.col("o.doc_id").isNull(), F.lit("added"))
        .when(F.col("n.doc_id").isNull(), F.lit("removed"))
        .when(F.col("o.fp") != F.col("n.fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
        F.coalesce(F.col("n.n_chars"), F.col("o.n_chars")).alias("n_chars"),
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


# --------------------------------------------------------------------------
# q118 — entity resolution with blocking: fuzzy-match part names via
# last-word blocking + in-block Levenshtein (<= 3).  The ER-canonical
# scale shape: match DISTINCT name strings (vocabulary-bound — the
# distinct-name table does NOT grow with corpus rows, only per-name
# counts do), never raw rows, so exact-duplicate names can't explode
# the pair space quadratically; blocking bounds comparisons to
# sum(|block|^2) via the shared expand_member_pairs row-by-row
# expansion (no self-join, no second name-table lineage).  Levenshtein
# is exact and identical in both engines; pairs order a < b by name.
# --------------------------------------------------------------------------
_Q118_MAX_LEV = 3


@query(
    "q118_fuzzy_part_matches",
    f"""
    WITH names AS (
        SELECT p_name, COUNT(*) AS n_parts, MIN(p_partkey) AS min_partkey
        FROM part GROUP BY p_name
    ),
    blocked AS (
        SELECT *, string_split(p_name, ' ')[-1] AS block FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS lev,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM blocked a JOIN blocked b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_Q118_MAX_LEV}
    """,
)
def q118_fuzzy_part_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import (
        expand_member_pairs,
    )

    p = load_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("p_partkey").alias("min_partkey"),
    )
    blocked = names.withColumn(
        "block", F.element_at(F.split("p_name", " "), -1)
    )
    grouped = blocked.groupBy("block").agg(
        F.array_sort(
            F.collect_list(F.struct("p_name", "n_parts"))
        ).alias("members")
    ).filter(F.size("members") > 1)
    pairs = expand_member_pairs(grouped, "members")
    return (
        pairs.select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("lev"),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
        )
        .filter(F.col("lev") <= _Q118_MAX_LEV)
    )


# --------------------------------------------------------------------------
# q135 — Fellegi-Sunter record-linkage scoring (the MATCH step after
# q118's blocking): blocked customer x supplier candidate pairs scored
# by summed log2 likelihood ratios — each comparison field contributes
# log2(m/u) on agreement and log2((1-m)/(1-u)) on disagreement, with
# pinned (m, u) probabilities (operators/features.py
# fellegi_sunter_score).  The weights are computed ONCE in Python
# (fs_weights) and rendered into the oracle as literals, so both engines
# sum identical doubles in identical order.  Scoring is a pure
# projection over the blocked pairs — the expensive part stays the
# blocking join, whose (nationkey, name-digit) key bounds pairs to
# sum(|block|^2), never |C| x |S|.
# --------------------------------------------------------------------------
_Q135_FIELDS = {  # field -> (m, u): P(agree | match), P(agree | non-match)
    "balance_band": (0.6, 0.08),
    "balance_close": (0.5, 0.005),
    "name_digit": (0.85, 0.1),
}
_Q135_MATCH, _Q135_POSSIBLE = 4.0, 0.0


def _q135_oracle() -> str:
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        fs_weights,
    )

    cases = []
    for agree_sql, key in [
        ("FLOOR(c.c_acctbal / 1000) = FLOOR(s.s_acctbal / 1000)", "balance_band"),
        ("ABS(c.c_acctbal - s.s_acctbal) < 50", "balance_close"),
        (
            "substr(c.c_name, LENGTH(c.c_name) - 2, 1) = "
            "substr(s.s_name, LENGTH(s.s_name) - 2, 1)",
            "name_digit",
        ),
    ]:
        wa, wd = fs_weights(*_Q135_FIELDS[key])
        # explicit NULL arm: the engine's fellegi_sunter_score gives a
        # NULL agreement 0, but a bare CASE WHEN ... ELSE would fall to
        # the disagreement weight on NULL (latent here — these TPC-H
        # fields are non-null — but the oracle must mirror semantics,
        # not luck)
        cases.append(
            f"CASE WHEN ({agree_sql}) IS NULL THEN 0.0 "
            f"WHEN {agree_sql} THEN {wa!r} ELSE {wd!r} END"
        )
    score = "0.0 + " + " + ".join(cases)
    return f"""
    SELECT c_custkey, s_suppkey, ROUND(score, 4) AS score,
           CASE WHEN score >= {_Q135_MATCH} THEN 'match'
                WHEN score >= {_Q135_POSSIBLE} THEN 'possible'
                ELSE 'non_match' END AS tier
    FROM (
        SELECT c.c_custkey, s.s_suppkey, {score} AS score
        FROM customer c JOIN supplier s
          ON c.c_nationkey = s.s_nationkey
         AND substr(c.c_name, LENGTH(c.c_name) - 1, 2) =
             substr(s.s_name, LENGTH(s.s_name) - 1, 2)
    )
    """


@query("q135_record_linkage_scores", _q135_oracle())
def q135_record_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        fellegi_sunter_score,
    )

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.substring("c_name", -2, 2).alias("blk"),
        F.substring("c_name", -3, 1).alias("c_digit"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.substring("s_name", -2, 2).alias("blk"),
        F.substring("s_name", -3, 1).alias("s_digit"),
    )
    pairs = c.join(
        s, (c.c_nationkey == s.s_nationkey) & (c.blk == s.blk)
    )
    score = fellegi_sunter_score(
        [
            (
                F.floor(F.col("c_acctbal") / 1000)
                == F.floor(F.col("s_acctbal") / 1000),
                *_Q135_FIELDS["balance_band"],
            ),
            (
                F.abs(F.col("c_acctbal") - F.col("s_acctbal")) < 50,
                *_Q135_FIELDS["balance_close"],
            ),
            (F.col("c_digit") == F.col("s_digit"), *_Q135_FIELDS["name_digit"]),
        ]
    )
    scored = pairs.select("c_custkey", "s_suppkey", score.alias("score"))
    tier = (
        F.when(F.col("score") >= _Q135_MATCH, "match")
        .when(F.col("score") >= _Q135_POSSIBLE, "possible")
        .otherwise("non_match")
    )
    return scored.select(
        "c_custkey",
        "s_suppkey",
        duck_round_expr("score", 4).alias("score"),
        tier.alias("tier"),
    )


# --------------------------------------------------------------------------
# q140 — LEAKAGE-SAFE (out-of-fold) target encoding, the categorical
# feature-engineering twin of q137's point-in-time guard: each order's
# market segment is encoded by the mean order value of the OTHER orders
# in that segment — (sum - own) / (n - 1) — so a row never sees its own
# target (plain mean-encoding leaks the label and inflates validation
# scores).  One window exchange on the category; sums ride DECIMAL so
# the subtraction is exact and only the final division is double.
# Singleton categories (n = 1) have no out-of-fold signal: NULL, for
# the caller's global-prior fallback.
# --------------------------------------------------------------------------
@query(
    "q140_loo_target_encoding",
    """
    SELECT o_orderkey, c_mktsegment,
           CASE WHEN cnt > 1 THEN ROUND(
               CAST(seg_sum - t AS DOUBLE) / (cnt - 1), 4) END AS segment_loo_mean
    FROM (
        SELECT o.o_orderkey, c.c_mktsegment,
               CAST(o.o_totalprice AS DECIMAL(18,2)) AS t,
               SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                   OVER (PARTITION BY c.c_mktsegment) AS seg_sum,
               COUNT(*) OVER (PARTITION BY c.c_mktsegment) AS cnt
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    """,
)
def q140_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment")
    t = F.col("o_totalprice").cast("decimal(18,2)")
    joined = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey",
        "c_mktsegment",
        t.alias("t"),
    )
    staged = joined.select(
        "o_orderkey",
        "c_mktsegment",
        "t",
        F.sum("t").over(w).alias("seg_sum"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    loo = F.when(
        F.col("cnt") > 1,
        duck_round_expr(
            (F.col("seg_sum") - F.col("t")).cast("double")
            / (F.col("cnt") - 1),
            4,
        ),
    )
    return staged.select(
        "o_orderkey", "c_mktsegment", loo.alias("segment_loo_mean")
    )


# --------------------------------------------------------------------------
# q119 — sequential pattern detection: customers with three consecutive
# calendar months of strictly declining spend (the churn-risk signal).
# The facts reduce to (customer, month) in one groupBy; the lag chain
# then runs per customer over the tiny monthly frame — consecutive-ness
# is enforced by comparing the 2-back month, not assumed from row
# adjacency.  Spend is DECIMAL-exact so the strict inequalities are
# engine-independent.
# --------------------------------------------------------------------------
@query(
    "q119_spend_decline_pattern",
    """
    WITH monthly AS (
        SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        FROM orders GROUP BY o_custkey, m
    ),
    lagged AS (
        SELECT o_custkey, m, spend,
               LAG(spend, 1) OVER (PARTITION BY o_custkey ORDER BY m) AS s1,
               LAG(spend, 2) OVER (PARTITION BY o_custkey ORDER BY m) AS s2,
               LAG(m, 2) OVER (PARTITION BY o_custkey ORDER BY m) AS m2
        FROM monthly
    )
    SELECT o_custkey, STRFTIME(m, '%Y-%m-%d') AS decline_month,
           CAST(spend AS DOUBLE) AS spend,
           CAST(s1 AS DOUBLE) AS prev_spend,
           CAST(s2 AS DOUBLE) AS prev2_spend
    FROM lagged
    WHERE s2 IS NOT NULL AND spend < s1 AND s1 < s2
      AND datediff('month', m2, m) = 2
    """,
)
def q119_spend_decline_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"))
    w = Window.partitionBy("o_custkey").orderBy("m")
    lagged = monthly.select(
        "o_custkey", "m", "spend",
        F.lag("spend", 1).over(w).alias("s1"),
        F.lag("spend", 2).over(w).alias("s2"),
        F.lag("m", 2).over(w).alias("m2"),
    )
    return lagged.filter(
        F.col("s2").isNotNull()
        & (F.col("spend") < F.col("s1"))
        & (F.col("s1") < F.col("s2"))
        & (
            F.months_between(F.date_trunc("month", "m"),
                             F.date_trunc("month", "m2")) == 2
        )
    ).select(
        "o_custkey",
        F.col("m").cast("date").alias("decline_month"),
        F.col("spend").cast("double").alias("spend"),
        F.col("s1").cast("double").alias("prev_spend"),
        F.col("s2").cast("double").alias("prev2_spend"),
    )


# --------------------------------------------------------------------------
# q123 — DATASET-level data-quality checks: the reference's rule language
# (SURVEY.md §2.3) is strictly row-local; production DQ also needs
# cross-row invariants — key uniqueness, referential integrity, column
# completeness, freshness.  One aggregate pass over each fact plus ONE
# anti-join (orphan lineitems) — at 100 TB the orphan check rides a
# broadcast Bloom prefilter of the key side (q71's operator) before the
# exact anti-join; counts here are exact.
# --------------------------------------------------------------------------
@query(
    "q123_dataset_quality_checks",
    """
    SELECT (SELECT COUNT(*) FROM orders) AS n_orders,
           (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
               AS dup_orderkeys,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
               AS orphan_lineitems,
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
               AS null_custkeys,
           (SELECT STRFTIME(MAX(o_orderdate), '%Y-%m-%d') FROM orders)
               AS max_orderdate
    """,
)
def q123_dataset_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    orders_agg = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "dup_orderkeys"
        ),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_custkeys"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias(
            "max_orderdate"
        ),
    )
    orphans = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"),
              li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_lineitems"))
    )
    return orders_agg.crossJoin(F.broadcast(orphans)).select(
        "n_orders", "dup_orderkeys", "orphan_lineitems", "null_custkeys",
        "max_orderdate",
    )


# --------------------------------------------------------------------------
# q124 — time-series gap-fill with linear interpolation: daily 1998
# revenue per market segment, missing days rebuilt from the neighboring
# present days (the resample/interpolate primitive of every time-series
# feature pipeline).  Scale shape: facts reduce to (segment, day) in one
# groupBy; the spine is generated per segment from its own min/max (a
# sequence explode, no calendar table); interpolation is two
# ignore-nulls window passes over the bounded spine — never the facts.
# Interpolated values: prev + (next - prev) * (days_since_prev /
# gap_days), written with the identical expression tree in both engines
# and rounded(4).
# --------------------------------------------------------------------------
@query(
    "q124_gap_filled_daily_revenue",
    """
    WITH daily AS (
        SELECT c.c_mktsegment AS seg, CAST(o.o_orderdate AS DATE) AS d,
               SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE EXTRACT(year FROM o.o_orderdate) = 1998
        GROUP BY seg, CAST(o.o_orderdate AS DATE)
    ),
    spine AS (
        SELECT seg, unnest(generate_series(MIN(d), MAX(d),
                                           INTERVAL 1 DAY))::DATE AS d
        FROM daily GROUP BY seg
    ),
    joined AS (
        SELECT s.seg, s.d, daily.rev
        FROM spine s LEFT JOIN daily ON daily.seg = s.seg AND daily.d = s.d
    ),
    staged AS (
        SELECT seg, d, rev,
               last_value(rev IGNORE NULLS) OVER (
                   PARTITION BY seg ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_rev,
               last_value(CASE WHEN rev IS NOT NULL THEN d END IGNORE NULLS)
                   OVER (PARTITION BY seg ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
               first_value(rev IGNORE NULLS) OVER (
                   PARTITION BY seg ORDER BY d
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_rev,
               first_value(CASE WHEN rev IS NOT NULL THEN d END IGNORE NULLS)
                   OVER (PARTITION BY seg ORDER BY d
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
        FROM joined
    )
    SELECT seg, STRFTIME(d, '%Y-%m-%d') AS d,
           rev IS NULL AS interpolated,
           ROUND(CASE WHEN rev IS NOT NULL THEN CAST(rev AS DOUBLE)
                 ELSE CAST(prev_rev AS DOUBLE)
                      + (CAST(next_rev AS DOUBLE) - CAST(prev_rev AS DOUBLE))
                        * (CAST(datediff('day', prev_d, d) AS DOUBLE)
                           / CAST(datediff('day', prev_d, next_d) AS DOUBLE))
                 END, 4) AS revenue
    FROM staged
    """,
)
def q124_gap_filled_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.features import gap_fill_linear

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    ).filter(F.year("o_orderdate") == 1998)
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    filled = gap_fill_linear(daily, ["seg"], "d", "rev")
    return filled.select(
        "seg",
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        "interpolated",
        duck_round_expr(F.col("rev"), 4).alias("revenue"),
    )


# --------------------------------------------------------------------------
# q125 — equi-depth feature binning: decile boundaries from ONE exact
# percentile aggregate, then every row binned by counting boundaries
# <= value with a pure-Catalyst array fold over the broadcast boundary
# array — dynamic-boundary binning without a range join or a per-bin
# pass (the feature-engineering primitive behind WOE encoding, hashed
# feature crosses, and monotonic binning).  At 100 TB the boundary agg
# becomes q121's mergeable KLL sketch; the binning projection is
# unchanged.  Interior boundaries only (p10..p90): bin b holds values
# in (q_b, q_{b+1}], bin ids 0..9, exactly the SQL fold the oracle
# replicates.  Local-bench note: the driver's sf0.1 lineitem is ONE
# parquet row group, so the exact-percentile partial agg runs in one
# task (~3.8 s); the sf1 file (293 row groups) parallelizes it — 2.5 s
# on 10x data.  A pre-agg repartition would hide that locally but add a
# real value shuffle at scale, where inputs are always many-row-group.
# --------------------------------------------------------------------------
_Q125_BINS = 10


@query(
    "q125_decile_binning",
    f"""
    WITH bounds AS (
        SELECT quantile_cont(l_extendedprice,
                             [i * 1.0 / {_Q125_BINS} for i in range(1, {_Q125_BINS})])
                   AS bs
        FROM lineitem
    ),
    binned AS (
        SELECT l_returnflag,
               len(list_filter(b.bs, x -> x <= l.l_extendedprice)) AS bin
        FROM lineitem l CROSS JOIN bounds b
    )
    SELECT l_returnflag, CAST(bin AS INT) AS bin, COUNT(*) AS n_rows
    FROM binned GROUP BY l_returnflag, bin
    """,
)
def q125_decile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.features import equi_depth_bin

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("v")
    )
    binned = equi_depth_bin(li, "v", bins=_Q125_BINS, output_col="bin")
    return binned.groupBy("l_returnflag", "bin").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


# --------------------------------------------------------------------------
# q156 — k-anonymity / l-diversity privacy audit (operators/privacy.py
# k_anonymity): one row per quasi-identifier equivalence class over
# customer (nation x $1000 balance band), with class size, distinct
# market segments inside the class (l-diversity — a k-anonymous class
# where every member shares one segment still leaks it), and an at-risk
# flag for classes below k=5.  The pre-release gate for user-derived
# training tables (Sweeney: ZIP+birthdate+sex singles out most people).
# Scale shape: ONE hash aggregate on the quasi key with map-side
# combine — output is bounded by the quasi-value cross product, not the
# row count; no UDF, no collect.  floor() of a negative balance agrees
# across engines (both round toward -infinity).
# --------------------------------------------------------------------------
_Q156_K = 5


@query(
    "q156_k_anonymity_audit",
    f"""
    WITH quasi AS (
        SELECT c_nationkey,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS balance_band,
               c_mktsegment
        FROM customer)
    SELECT c_nationkey, balance_band,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_diversity,
           CAST(CASE WHEN COUNT(*) < {_Q156_K} THEN 1 ELSE 0 END AS BIGINT)
               AS at_risk
    FROM quasi GROUP BY c_nationkey, balance_band
    """,
)
def q156_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.privacy import (
        k_anonymity,
    )

    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias(
            "balance_band"
        ),
        "c_mktsegment",
    )
    return k_anonymity(
        c,
        quasi_cols=["c_nationkey", "balance_band"],
        k=_Q156_K,
        sensitive_col="c_mktsegment",
    )


# --------------------------------------------------------------------------
# q188 — SymSpell fuzzy self-join via DELETION-NEIGHBORHOOD blocking:
# all customer-name pairs within Levenshtein distance 1 in one segment.
# Complements q118's heuristic last-word blocking with the EXHAUSTIVE
# scheme for d <= 1 (Garbe's SymSpell): D(x) = {x} + every
# single-character deletion of x; any pair at distance <= 1 shares a
# member of D (substitution -> the common deletion at the differing
# position; insertion/deletion -> the shorter string itself), so an
# equi-join on the variant key finds EVERY candidate — recall 1.0 by
# construction, no pairwise scan.  Distance-2 collisions (e.g. the
# transposition ab/ba sharing deletions) are removed by the cheap
# Levenshtein verify, and DISTINCT collapses pairs that share several
# variants.  Scale shape: the exploded index is |names| x (len+1)
# rows — linear, text-vocabulary-bound (names, never raw rows) — and
# the join is a hash equi-join on the variant string; at 100 TB a hot
# variant bucket is capped the way the MinHash band join caps buckets.
# The oracle deliberately runs the INDEPENDENT quadratic formulation
# (segment-bounded cross pair scan + levenshtein).
# --------------------------------------------------------------------------
@query(
    "q188_symspell_name_pairs",
    """
    WITH n AS (
        -- DISTINCT mirrors the operator's value-pair semantics: the
        -- sf1 sweep found repeated names (the upscaled copies reuse
        -- c_name), and a raw self-join multiplies each value pair by
        -- the product of its duplicate counts (exactly 100x at sf1's
        -- 10 copies) while symspell_pairs dedups values up front
        SELECT DISTINCT c_name FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM n a JOIN n b ON a.c_name < b.c_name
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q188_symspell_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        symspell_pairs,
    )

    c = load_table(spark, sf_dir, "customer")
    names = c.where(F.col("c_mktsegment") == "BUILDING").select("c_name")
    return symspell_pairs(names, string_col="c_name", max_distance=1).select(
        F.col("value_a").alias("name_a"),
        F.col("value_b").alias("name_b"),
        "dist",
    )


# --------------------------------------------------------------------------
# q196 — DELETION-CASCADE audit (right-to-be-forgotten simulation): a
# deterministic customer cohort (custkey % 97 = 0) is erased and the
# cascade follows the FK edges customer -> orders -> lineitem; the
# audit reports, per table, how many rows the cascade removes, how
# many remain, and the exact value removed (integer cents through a
# DECIMAL accumulator).  This is the privacy-pipeline companion to
# q156's k-anonymity audit — the count you verify BEFORE issuing the
# actual deletes.  Scale shape: each cascade level is a semi-join on
# the parent's key set (the deletion cohort is tiny relative to the
# corpus, so the semi-join build side broadcasts; counts/sums are
# partial-aggregated).  The three per-table audit rows union.
# --------------------------------------------------------------------------
@query(
    "q196_deletion_cascade_audit",
    """
    WITH del_c AS (
        SELECT c_custkey, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer WHERE c_custkey % 97 = 0
    ),
    del_o AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM del_c)
    ),
    del_l AS (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM del_o)
    )
    SELECT 'customer' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_deleted,
           CAST((SELECT COUNT(*) FROM customer) - COUNT(*) AS BIGINT)
               AS n_remaining,
           CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents_removed
    FROM del_c
    UNION ALL
    SELECT 'orders',
           CAST(COUNT(*) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) - COUNT(*) AS BIGINT),
           CAST(COALESCE(SUM(cents), 0) AS BIGINT)
    FROM del_o
    UNION ALL
    SELECT 'lineitem',
           CAST(COUNT(*) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) - COUNT(*) AS BIGINT),
           CAST(COALESCE(SUM(cents), 0) AS BIGINT)
    FROM del_l
    """,
)
def q196_deletion_cascade_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(19,0)"

    del_c = c.where(F.col("c_custkey") % 97 == 0).select(
        "c_custkey",
        duck_round_expr(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    del_o = o.join(
        F.broadcast(del_c.select("c_custkey")),
        o.o_custkey == F.col("c_custkey"),
        "left_semi",
    ).select(
        "o_orderkey",
        duck_round_expr(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    del_l = li.join(
        F.broadcast(del_o.select("o_orderkey")),
        li.l_orderkey == del_o.o_orderkey,
        "left_semi",
    ).select(
        duck_round_expr(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("cents")
    )

    def audit(name: str, deleted: DataFrame, full: DataFrame) -> DataFrame:
        total = full.agg(
            F.count(F.lit(1)).cast("bigint").alias("_total")
        )
        return (
            deleted.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_deleted"),
                F.coalesce(
                    F.sum(F.col("cents").cast(dec)), F.lit(0).cast(dec)
                )
                .cast("bigint")
                .alias("cents_removed"),
            )
            .crossJoin(F.broadcast(total))
            .select(
                F.lit(name).alias("table_name"),
                "n_deleted",
                (F.col("_total") - F.col("n_deleted"))
                .cast("bigint")
                .alias("n_remaining"),
                "cents_removed",
            )
        )

    return (
        audit("customer", del_c, c)
        .unionByName(audit("orders", del_o, o))
        .unionByName(audit("lineitem", del_l, li))
    )


# --------------------------------------------------------------------------
# q199 — LARGEST-REMAINDER (Hamilton) allocation: distribute each
# order's total EXACTLY across its lineitems proportionally to their
# extended prices, in whole cents — the billing/invoice proration
# primitive where naive per-row rounding leaks cents (sums stop
# matching the invoice).  Pure integer arithmetic end to end: base
# share = floor(T*w/W), remainders T*w mod W rank per order
# (DESC, linenumber tie), and the first (T - sum(base)) items get the
# extra cent — by construction sum(alloc) == T per order, pinned by
# the Python-reference test.  T*w products stay exact bigints at test
# magnitudes and go DECIMAL at the 100 TB posture (the q181 note).
# The synthetic lineitem carries duplicate (orderkey, linenumber)
# pairs with DIFFERENT prices, so linenumber alone is not a total
# order — the rank therefore breaks remainder ties by (linenumber, w):
# total up to true (ln, w) twins, which are interchangeable rows whose
# bonus cent lands on either without changing the OUTPUT MULTISET
# (what the order-insensitive hash and the Counter-based pin verify).
# Scale shape: ONE exchange on the order key feeds the weight-total
# window, the remainder rank, and the leftover window.
# --------------------------------------------------------------------------
@query(
    "q199_invoice_allocation",
    """
    WITH li AS (
        SELECT l_orderkey, l_linenumber,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS w
        FROM lineitem
    ),
    o AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS t
        FROM orders
    ),
    j AS (
        SELECT li.l_orderkey, li.l_linenumber, li.w, o.t,
               SUM(li.w) OVER (PARTITION BY li.l_orderkey) AS tw
        FROM li JOIN o ON o.o_orderkey = li.l_orderkey
    ),
    b AS (
        SELECT *, (t * w) // tw AS base, (t * w) % tw AS rem FROM j
    ),
    r AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY rem DESC, l_linenumber, w) AS rk,
               t - CAST(SUM(base) OVER (PARTITION BY l_orderkey)
                        AS BIGINT) AS leftover
        FROM b
    )
    SELECT l_orderkey, l_linenumber,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_cents
    FROM r
    """,
)
def q199_invoice_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        duck_round_expr(F.col("l_extendedprice") * 100).cast("bigint").alias("w"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        duck_round_expr(F.col("o_totalprice") * 100).cast("bigint").alias("t"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "w", "t"
    )
    wk = Window.partitionBy("l_orderkey")
    b = j.withColumn("tw", F.sum("w").over(wk)).select(
        "l_orderkey",
        "l_linenumber",
        "w",
        "t",
        F.expr("(t * w) div tw").alias("base"),
        F.expr("(t * w) % tw").alias("rem"),
    )
    r = b.select(
        "l_orderkey",
        "l_linenumber",
        "base",
        F.row_number()
        .over(wk.orderBy(F.col("rem").desc(), "l_linenumber", "w"))
        .alias("rk"),
        (F.col("t") - F.sum("base").over(wk).cast("bigint")).alias(
            "leftover"
        ),
    )
    return r.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_cents"),
    )


# --------------------------------------------------------------------------
# q200 — WHAT-IF scenario grid: total revenue under six candidate
# extra-discount levels (0..250 basis points) computed from ONE
# lineitem scan — each row explodes across the literal scenario array
# and the per-scenario totals partial-aggregate map-side, so adding a
# scenario costs fanout, never another scan (the naive form re-reads
# the fact table per scenario).  Exact arithmetic: price cents x
# (10000 - bp) accumulates in DECIMAL basis-point-cents and lands
# through one decimal-string division per scenario.  The oracle
# cross-joins the same literal scenarios in SQL.
# --------------------------------------------------------------------------
_Q200_SCENARIOS = (0, 50, 100, 150, 200, 250)


@query(
    "q200_discount_scenarios",
    f"""
    WITH li AS (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS w
        FROM lineitem
    ),
    sc AS (
        SELECT unnest([{", ".join(str(b) for b in _Q200_SCENARIOS)}])
            AS extra_bp
    )
    SELECT sc.extra_bp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(CAST(li.w AS DECIMAL(19,0))
                         * (10000 - sc.extra_bp)) AS VARCHAR) AS DOUBLE)
               / 1000000.0 AS scenario_revenue
    FROM li CROSS JOIN sc
    GROUP BY sc.extra_bp
    """,
)
def q200_discount_scenarios(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        duck_round_expr(F.col("l_extendedprice") * 100).cast("bigint").alias("w")
    )
    sc = F.explode(
        F.array(*[F.lit(b) for b in _Q200_SCENARIOS])
    ).alias("extra_bp")
    exploded = li.select("w", sc)
    return exploded.groupBy("extra_bp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (
            exact_str_double(
                F.sum(
                    F.col("w").cast("decimal(19,0)")
                    * (F.lit(10000) - F.col("extra_bp"))
                )
            )
            / F.lit(1000000.0)
        ).alias("scenario_revenue"),
    )
