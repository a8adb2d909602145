"""Scale-tuning operators: skew-salted joins and bucketed co-located joins.

These are the two knobs SURVEY.md §4.2 reserves for 100 TB shapes that AQE
alone cannot fix:

  * **Salting** — when one join key dominates (a "hot" customer, a null
    bucket), hash partitioning sends the whole key to one task.  Salting
    splits the hot side's rows across ``salt_factor`` sub-keys and
    replicates the other side once per sub-key, so the hot key fans out to
    ``salt_factor`` tasks.  Results are identical to the unsalted join.
    (AQE's skew-join handles sort-merge spills per-partition; salting is
    the declarative fallback that also works for hash joins and stateful
    streaming joins.)

  * **Bucketing** — pre-shuffling both tables into the same bucket layout
    at WRITE time (``bucketBy`` + ``saveAsTable``) lets every later equi
    join/aggregation on the bucket key run shuffle-free: the exchange
    happens once when data lands, not once per query.  The classic trade
    for dimension/fact tables that are joined daily.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt_factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the LEFT side treated as skewed on ``on``.

    left rows get a DETERMINISTIC salt in [0, salt_factor): pmod of the
    hash of the row's full content.  Deriving the salt from row content
    (never ``monotonically_increasing_id``/``rand`` without a seed) is a
    correctness requirement, not a style choice: a task retry or lineage
    recomputation re-evaluates the expression, and a nondeterministic salt
    would re-deal rows to different shuffle partitions mid-failure — the
    SPARK-23207 class of silent duplication/loss.  Identical rows share a
    salt, which is harmless for correctness and still spreads a hot KEY
    whenever its rows differ anywhere else.

    Right rows are replicated once per salt value.  The join key becomes
    (key, salt), spreading each hot key over ``salt_factor`` partitions.
    Equivalent to ``left.join(right, on, how)`` for inner/left joins; the
    replicated side must be the non-preserved side for outer joins.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    salt = F.pmod(
        F.hash(*[F.col(c) for c in left.columns]), F.lit(salt_factor)
    ).alias("_salt")
    salted_left = left.withColumn("_salt", salt)
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(salt_factor - 1))
    ).alias("_salt")
    replicated_right = right.select("*", salts)
    out = salted_left.join(replicated_right, on=[on, "_salt"], how=how)
    return out.drop("_salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed table.
    Joins/aggregations on ``bucket_col`` between tables sharing this layout
    need no exchange (verify: the plan has no Exchange on the bucketed
    side)."""
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str,
    how: str = "inner",
) -> DataFrame:
    """Join two pre-bucketed tables on their bucket key (shuffle-free when
    bucket layouts match)."""
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)


class subset_copartition:
    """Context manager enabling ZERO-EXCHANGE joins whose equi-keys are a
    SUPERSET of a bucketed table's bucket columns — e.g. the binned
    interval joins (``operators/joins.py``), which join on
    ``(key, bin)`` where ``bin`` is generated per-row at query time and
    therefore can never itself be a bucket column.

    Two session confs gate this, both restored on exit:

      * ``spark.sql.sources.bucketing.autoBucketedScan.enabled`` → false:
        the auto heuristic DISABLES the bucketed layout under a
        Generate(explode) → join shape (the scan reports
        ``Bucketed: false`` and the exchange silently returns);
      * ``spark.sql.requireAllClusterKeysForCoPartition`` → false: the
        default rejects subset co-partitioning —
        HashPartitioning(key) satisfies ClusteredDistribution(key, bin)
        only with the requirement relaxed.  Rows sharing a key land in
        one task, which is exactly the interval join's locality need;
        the parallelism trade (buckets, not shuffle width) is why this
        is a SCOPED context, not a session default.

    Measured (round 10, sf100, 150M-row span frame, 377M output pairs,
    checksums identical, ``BENCH_sf100.json``): the q139 overlap
    self-join reads a custkey-bucketed span table with ZERO exchanges in
    62.7 s vs 445.1 s for the shipped build-and-shuffle shape — 7.1x;
    the one-time bucketed build (126.1 s) amortizes on the second
    downstream query.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._keys = (
            "spark.sql.sources.bucketing.autoBucketedScan.enabled",
            "spark.sql.requireAllClusterKeysForCoPartition",
        )
        self._saved: dict[str, str | None] = {}

    def __enter__(self):
        for k in self._keys:
            self._saved[k] = self._spark.conf.get(k, None)
            self._spark.conf.set(k, "false")
        return self._spark

    def __exit__(self, *exc):
        for k, v in self._saved.items():
            if v is None:
                self._spark.conf.unset(k)
            else:
                self._spark.conf.set(k, v)
        return False


def epoch_ordinal(col, dtype):
    """Integer-comparable ordinal of an orderable column, for binning and
    range scaling: DAYS since epoch for dates (exact integers, immune to
    the session timezone), unix SECONDS for timestamps, identity for
    numerics; anything else raises.  Shared by the zorder sink scaling
    (io/writer.py) and the binned interval join (operators/joins.py) so
    the per-type dispatch evolves in one place."""
    from pyspark.sql.types import (
        DateType,
        NumericType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(dtype, NumericType):
        return col
    if isinstance(dtype, DateType):
        return F.datediff(col, F.lit("1970-01-01"))
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return F.unix_timestamp(col)
    raise ValueError(
        f"epoch_ordinal: unsupported type {dtype}; "
        "must be numeric, date, or timestamp"
    )


def morton_key(a, b, bits: int = 16):
    """Z-order (Morton) interleave of two non-negative dimension values:
    bit i of ``a`` lands at position 2i+1 and bit i of ``b`` at 2i, so
    sorting by the result clusters rows that are close in BOTH
    dimensions.

    This is the data-LAYOUT lever for multi-dimensional scan pruning at
    100 TB: ``df.repartitionByRange(n, zval).sortWithinPartitions(zval)``
    before a parquet write makes every file's min/max footer stats tight
    in *both* dimensions simultaneously, so predicates on either column
    skip most files — a linear sort can only be tight in one.  (Same
    mechanism as Delta/Iceberg OPTIMIZE ZORDER, expressed with stock
    Spark.)

    Pure Catalyst bit arithmetic (shiftright/and/or) — whole-stage
    codegen'd, no UDF.  Inputs are masked to ``bits`` low bits; callers
    should pre-scale values into that range (rank, bucket id, or
    ``pmod``).  2*bits must fit a signed 64-bit long, so bits <= 31.
    """
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    a = a.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
    b = b.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def morton_key_sql(a: str, b: str, bits: int = 16) -> str:
    """The DuckDB-SQL twin of :func:`morton_key` (same bit layout), for
    oracle queries: renders the interleave as an OR-fold over literal
    shifts."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    mask = (1 << bits) - 1
    am = f"(CAST({a} AS BIGINT) & {mask})"
    bm = f"(CAST({b} AS BIGINT) & {mask})"
    terms = []
    for i in range(bits):
        terms.append(f"((({am} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({bm} >> {i}) & 1) << {2 * i})")
    return "(" + " | ".join(terms) + ")"


def distributed_row_number(
    df: DataFrame,
    order_by: Sequence[Column],
    rn_col: str = "rn",
    num_partitions: int | None = None,
):
    """Exact global ``row_number()`` WITHOUT a single-partition window.

    ``Window.orderBy(...)`` with no partitionBy funnels the entire input
    through ONE task — correct at sf0.1, dead at 100 TB (the exact shape
    ``asof_join`` already warns about).  This is the two-phase
    distributed rank that replaces it:

      1. ``repartitionByRange`` + ``sortWithinPartitions`` on the order
         keys (one range exchange; partition i holds keys strictly
         before partition i+1's),
      2. the partition id is stamped ON THE ROWS (a
         ``spark_partition_id()`` column) and ``localCheckpoint`` freezes
         both the sampled range boundaries and the stamped ids — the id
         must be data, not a task property: ``TaskContext.partitionId()``
         RENUMBERS when a downstream plan embeds this frame in a union
         (the right branch's task ids are offset by the left's partition
         count — measured: ``got.exceptAll(got)`` returned 8784 rows
         before the stamp, 0 after),
      3. a bounded census — ONE row per partition — collected to compute
         cumulative offsets,
      4. an order-preserving Arrow ``mapInPandas`` that adds
         ``offset[stamped_pid] + local_index`` per contiguous run (no
         second shuffle).

    Requirements: ``order_by`` must define a TOTAL order (append a
    unique tiebreak column, as every catalog caller does) — with ties,
    rows straddling a range boundary could otherwise rank either way.
    Result is bit-identical to the global-window ``row_number()`` and
    the per-partition work is |rows|/num_partitions, not |rows|.

    Returns ``(ranked_df, total_rows)`` — the total falls out of the
    census for free (NTILE and threshold selections both need it).
    """
    from pyspark.sql.types import LongType, StructField, StructType

    order_by = list(order_by)
    if not order_by:
        raise ValueError(
            "distributed_row_number: order_by must be a non-empty list of "
            "sort expressions defining a total order"
        )
    spark = df.sparkSession
    n = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    pid_col = "__drn_pid"
    ordered = (
        df.repartitionByRange(n, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn(pid_col, F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    census = (
        ordered.groupBy(pid_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    sizes = {int(r[pid_col]): int(r["_n"]) for r in census}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    total = acc

    out_schema = StructType(
        list(df.schema.fields) + [StructField(rn_col, LongType(), False)]
    )

    def add_rn(batches):
        seen: dict[int, int] = {}
        for pdf in batches:
            # one pid per task in the normal narrow plan; the groupby is
            # the safety net for any runtime that merges partitions
            # (contiguous runs keep their sorted order either way)
            for pid, grp in pdf.groupby(pid_col, sort=False):
                base = offsets[int(pid)] + seen.get(int(pid), 0)
                out = grp.drop(columns=[pid_col])
                out[rn_col] = range(base + 1, base + 1 + len(grp))
                seen[int(pid)] = seen.get(int(pid), 0) + len(grp)
                yield out

    return ordered.mapInPandas(add_rn, schema=out_schema), total


def distributed_ntile(
    df: DataFrame,
    n_buckets: int,
    order_by: Sequence[Column],
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``NTILE(n_buckets)`` over an arbitrary total order without a
    single-partition window: two-phase distributed rank
    (:func:`distributed_row_number`), then the closed-form NTILE bucket
    from (rank, total) in pure Catalyst integer arithmetic.

    SQL NTILE semantics, reproduced exactly: with N rows and n buckets,
    ``q, r = divmod(N, n)``; the first r buckets get q+1 rows, the rest
    get q.  Bit-identical to ``F.ntile(n).over(Window.orderBy(...))``
    (same IntegerType output) — pinned by tests against the window
    version — but the sort is a range exchange over num_partitions
    tasks instead of one.
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    tmp = f"__dntile_rn_{out_col}"
    ranked, total = distributed_row_number(
        df, order_by, rn_col=tmp, num_partitions=num_partitions
    )
    q, r = divmod(total, n_buckets)
    head = r * (q + 1)  # rows living in the size-(q+1) buckets
    rn = F.col(tmp)
    # q == 0 (fewer rows than buckets): every row is in the head branch;
    # max(q, 1) only guards the never-taken else from building a DIV 0.
    bucket = (
        F.when(
            rn <= F.lit(head),
            F.expr(f"({tmp} - 1) DIV {q + 1}") + F.lit(1),
        )
        .otherwise(
            F.expr(f"({tmp} - 1 - {head}) DIV {max(q, 1)}") + F.lit(r + 1)
        )
        .cast("int")
        .alias(out_col)
    )
    return ranked.select(*[F.col(c) for c in df.columns], bucket)
