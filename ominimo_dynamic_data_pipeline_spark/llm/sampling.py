"""Deterministic corpus sampling operators.

Training-data pipelines need samples that are (a) reproducible across
reruns and task retries — so never ``rand()`` without a seed, never
``monotonically_increasing_id`` — and (b) balanced the way the curriculum
needs, not the way the data happens to skew.  Both operators here derive
their randomness from md5 of the row's stable id, which makes them
portable (the DuckDB oracle recomputes the identical ordering) and safe
under lineage recomputation, the same discipline as
``operators.scale.salted_join``.

  * ``hash_split`` — proportional Bernoulli-style split (each row lands
    in a bucket independently); per-stratum counts are only *expected*
    fractions.  Used by the q53 train/val catalog entry.
  * ``stratified_quota_sample`` — EXACT per-stratum quotas: rank rows
    within each stratum by a seeded md5 key and keep the top
    ``ceil(fraction * stratum_size)``.  One window over the stratum key —
    a single exchange, partitions bounded by stratum size.  This is the
    rebalancing primitive for over-represented languages/sources in a
    pre-training mix.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sample_key(id_col: Column, seed: int) -> Column:
    """Seeded, portable pseudo-random ordering key: md5 of "{seed}:{id}".
    DuckDB twin: md5('{seed}:' || CAST(id AS VARCHAR))."""
    return F.md5(F.concat(F.lit(f"{seed}:"), id_col.cast("string")))


def hash_split(
    id_col: Column, fractions: dict[str, float], seed: int = 1337
) -> Column:
    """Label each row with a split name by hashing its id into [0, 100).
    ``fractions`` maps name -> share (must sum to 1.0)."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    bucket = (
        F.conv(F.substring(sample_key(id_col, seed), 1, 15), 16, 10).cast(
            "bigint"
        )
        % 100
    )
    expr = None
    lo = 0.0
    for name, frac in fractions.items():
        hi = lo + frac * 100.0
        cond = (bucket >= int(round(lo))) & (bucket < int(round(hi)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    return expr.otherwise(list(fractions)[-1])


def stratified_quota_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str = "doc_id",
    fraction: float = 0.2,
    seed: int = 66,
) -> DataFrame:
    """Keep exactly ``ceil(fraction * n)`` rows per stratum, chosen by the
    seeded md5 ordering (ties impossible — the key is unique per id).

    Adds ``strat_rank`` (1-based rank within the stratum's sample order)
    and ``stratum_docs`` (stratum size) columns.  Single window exchange
    on ``strata_col``; a stratum's rows must fit a task's window buffer,
    which holds whenever strata are languages/sources (each stratum is
    itself huge at 100 TB, but the window only carries the narrow
    (id, stratum, key) projection — for truly monster strata, pre-bin the
    stratum by a hash prefix and sample per bin).
    """
    if not (0.0 < fraction <= 1.0):
        raise ValueError("fraction must be in (0, 1]")
    from pyspark.sql.window import Window

    key = sample_key(F.col(id_col), seed)
    w = Window.partitionBy(strata_col).orderBy(key.asc(), F.col(id_col).asc())
    w_all = Window.partitionBy(strata_col)
    ranked = df.select(
        F.col(id_col),
        F.col(strata_col),
        F.row_number().over(w).cast("bigint").alias("strat_rank"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("stratum_docs"),
    )
    quota = F.ceil(F.col("stratum_docs") * fraction)
    return ranked.filter(F.col("strat_rank") <= quota)


def group_quota_cap(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    cap: int = 100,
    seed: int = 143,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen by the seeded md5
    ordering — the ABSOLUTE-quota twin of stratified_quota_sample and
    the C4/RefinedWeb-style per-domain cap: no single crawl domain may
    dominate the training mix, however large its crawl footprint.

    Adds ``group_rank`` (1-based seeded rank within the group) and
    ``group_docs`` (group size before capping).  Same scale shape as the
    stratified sampler: ONE window exchange on ``group_col``, narrow
    projection through the window, deterministic across reruns/retries
    (md5 key, no rand()).  For monster groups, pre-bin by a hash prefix
    and cap per bin — the rank only needs to be exact up to ``cap``.
    """
    if cap <= 0:
        raise ValueError("group_quota_cap: cap must be positive")
    from pyspark.sql.window import Window

    key = sample_key(F.col(id_col), seed)
    w = Window.partitionBy(group_col).orderBy(key.asc(), F.col(id_col).asc())
    w_all = Window.partitionBy(group_col)
    ranked = df.select(
        "*",
        F.row_number().over(w).cast("bigint").alias("group_rank"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("group_docs"),
    )
    return ranked.filter(F.col("group_rank") <= cap)


def cluster_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    seed: int = 144,
    mod: int = 1_048_576,
) -> DataFrame:
    """Train/val/test assignment with NEAR-DUP CLUSTER integrity: every
    document in one near-dup cluster lands in the SAME split, so a
    lightly-edited twin of a validation document can never leak into
    train (the split-level decontamination guarantee; hash-splitting raw
    doc ids does NOT give it).

    ``pairs`` is a near-dup pair frame (``id_a``/``id_b``, e.g.
    minhash_near_dups output).  Connected components give each doc its
    cluster's min id as a group key (singletons key on their own id);
    the split is an exact-integer md5 bucket of the GROUP key —
    bucket < test_frac*mod -> test, < (test+val)*mod -> val, else train
    — so membership depends only on the group, never the individual doc.

    Scale shape: components via the iterative min-label loop
    (dedup_clusters — edges localCheckpointed, rounds bounded by
    diameter); the label attach is a key-only join whose right side
    scales with the DUPLICATED doc count, not the corpus (AQE
    broadcast-decides); the bucket math is a pure projection.  Adds
    ``cluster_id`` (the group key) and ``split``."""
    if val_frac < 0 or test_frac < 0 or val_frac + test_frac >= 1:
        raise ValueError(
            "cluster_safe_split: need val_frac, test_frac >= 0 and "
            "val_frac + test_frac < 1"
        )
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import (
        dedup_clusters,
        md5_long,
    )

    clusters = dedup_clusters(pairs, id_col=id_col)
    labeled = df.join(
        clusters.withColumnRenamed(id_col, "_csp_id"),
        df[id_col] == F.col("_csp_id"),
        "left",
    ).drop("_csp_id")
    group = F.coalesce(F.col("cluster_id"), F.col(id_col))
    bucket = md5_long(group.cast("string"), seed=seed) % mod
    t_test = int(mod * test_frac)
    t_val = int(mod * (test_frac + val_frac))
    split = (
        F.when(bucket < t_test, F.lit("test"))
        .when(bucket < t_val, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return labeled.withColumn("cluster_id", group).withColumn("split", split)


def ngram_decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    eval_text_col: str | None = None,
    eval_id_col: str | None = None,
):
    """Per-doc benchmark-overlap counts (the q56 operator body, reusable):
    docs sharing at least one token ``n``-gram with the eval corpus come
    back as (id, n_contaminated_grams); clean docs are absent.

    Scale shape: the eval side is benchmark-sized, so its distinct gram
    set BROADCASTS onto the corpus gram stream — one corpus-side gram
    generation (window-lead assembly, no quadratic re-tokenization; see
    llm/dedup.py gram_frame), one broadcast semi-style join, one keyed
    count.  Pair with llm/similarity.py semantic_decontaminate for
    paraphrased contamination that shares no exact n-gram."""
    from pyspark.sql import functions as F

    from ominimo_dynamic_data_pipeline_spark.llm.dedup import gram_frame

    grams = gram_frame(df, id_col, text_col, n)
    # The eval frame's id is only a gram_frame grouping key and never
    # surfaces downstream, so it need not share the corpus's column name
    # (eval sets keyed by e.g. bench_id would otherwise fail analysis).
    eval_grams = (
        gram_frame(eval_df, eval_id_col or id_col, eval_text_col or text_col, n)
        .select("gram")
        .distinct()
    )
    return (
        grams.join(F.broadcast(eval_grams), on="gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


def temperature_mixture_rates(
    counts: dict[str, int], alpha: float = 0.5, budget: int = 10_000
) -> dict[str, float]:
    """Per-group keep rates for temperature-based mixture rebalancing
    (the multilingual/multi-source alpha-sampling of mT5/LLaMA-style
    pretraining mixes): group g is sampled with probability proportional
    to n_g^alpha, flattening the head and boosting the tail as alpha
    drops below 1 (alpha=1 keeps the natural mix, alpha=0 is uniform).
    ``budget`` is the expected TOTAL kept rows; rate_g =
    min(1, budget * w_g / n_g) with w_g = n_g^alpha / sum.

    Pure Python on driver-side group counts (groups are languages or
    sources — dozens, never data-scaled), summed in sorted-key order so
    the float total is reproducible.  SHARED with the DuckDB oracle
    builder, which renders the same rates as SQL literals — so engine
    and oracle agree bit-for-bit without cross-engine libm pow calls
    (same discipline as the IVF centroid literals)."""
    import math

    if not counts:
        raise ValueError("temperature_mixture_rates: no groups")
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    w = {g: math.pow(n, alpha) for g, n in counts.items()}
    tot = sum(w[g] for g in sorted(w))
    return {
        g: min(1.0, budget * (w[g] / tot) / counts[g]) for g in counts
    }


def temperature_mixture_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "lang",
    alpha: float = 0.5,
    budget: int = 10_000,
    seed: int = 131,
    mod: int = 1_048_576,
    max_groups: int = 10_000,
) -> DataFrame:
    """Deterministic temperature-rebalanced Bernoulli sample: keep a row
    iff its md5-uniform u < its group's temperature rate (see
    temperature_mixture_rates).  Adds ``keep_p`` (the group rate).

    Scale shape: ONE narrow (group, count) aggregate collected (groups
    are bounded — languages/sources, not data-scaled), rates rendered as
    a literal CASE chain, membership a pure projection riding the scan —
    no join, no second shuffle.  Rows whose group was absent from the
    census (NULL group) have NULL rate and are dropped.

    ``max_groups`` guards the census collect against a high-cardinality
    misuse (``group_col=user_id`` would collect millions of rows to the
    driver): the census reads at most ``max_groups + 1`` group rows and
    raises loudly past the cap — the same loud-failure posture as the
    interval joins' ``max_bins_per_interval``."""
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import md5_long

    if max_groups <= 0:
        raise ValueError("temperature_mixture_sample: max_groups must be positive")
    census = (
        df.groupBy(F.col(group_col).alias("_g"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .limit(int(max_groups) + 1)
        .collect()
    )
    if len(census) > max_groups:
        raise ValueError(
            f"temperature_mixture_sample: group_col={group_col!r} has more "
            f"than max_groups={max_groups} distinct values; temperature "
            "mixing is for bounded mixtures (languages/sources) — pick a "
            "coarser group_col or raise max_groups explicitly"
        )
    counts = {r["_g"]: r["_n"] for r in census if r["_g"] is not None}
    if not counts:
        # empty input (or all-NULL groups) propagates as an empty frame
        # — an upstream filter dropping every row must not crash the
        # dataflow
        return df.withColumn("keep_p", F.lit(None).cast("double")).filter(
            F.lit(False)
        )
    rates = temperature_mixture_rates(counts, alpha, budget)
    rate = None
    for g in sorted(rates):
        cond = F.col(group_col) == F.lit(g)
        rate = (
            F.when(cond, F.lit(rates[g]))
            if rate is None
            else rate.when(cond, F.lit(rates[g]))
        )
    u = (
        (md5_long(F.col(id_col).cast("string"), seed=seed) % mod)
        * F.lit(1.0)
        / F.lit(mod)
    )
    return df.withColumn("keep_p", rate).filter(u < F.col("keep_p"))


def shard_manifest(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 16,
    seed: int = 150,
) -> DataFrame:
    """Deterministic global-shuffle shard manifest — the dataloader-
    facing final step of a curation pipeline: every row gets a stable
    pseudo-random position so training epochs read well-mixed,
    reproducible shards (no rand(): a task retry re-deals nothing).

    shard = md5(seed, id) mod n_shards; pos_in_shard = rank of the SAME
    hash within the shard (ties impossible on distinct ids — the id
    breaks them).  Hash-sharding balances shard sizes to within
    sampling noise and destroys any source/time ordering, which is the
    point: a shard is an unbiased sample of the corpus.  ONE window
    exchange on shard; at 100 TB write the result with
    partitionBy('shard') so each training reader scans one directory.
    """
    if n_shards <= 0:
        raise ValueError("shard_manifest: n_shards must be positive")
    from pyspark.sql.window import Window

    from ominimo_dynamic_data_pipeline_spark.llm.dedup import md5_long

    key = md5_long(F.col(id_col).cast("string"), seed=seed)
    w = Window.partitionBy("shard").orderBy(
        F.col("_key").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_key", key)
        .withColumn("shard", (F.col("_key") % n_shards).cast("int"))
        .withColumn("pos_in_shard", F.row_number().over(w).cast("bigint"))
        .drop("_key")
    )


def winnow_decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    eval_id_col: str | None = None,
    eval_text_col: str | None = None,
) -> DataFrame:
    """SUBSTRING-level benchmark decontamination via winnowing: training
    docs sharing any winnow fingerprint with the eval corpus are flagged
    with their shared-fingerprint count.  The winnowing guarantee makes
    this a true substring detector — any shared run of >= k + window - 1
    tokens is CAUGHT (n-gram sampling like q56's 8-gram check can only
    probabilistically catch runs between its gram length and the doc
    length; fingerprint selection here is dense-enough by construction).

    Scale shape mirrors ngram_decontaminate: the eval fingerprint set is
    benchmark-sized -> broadcast; train-side cost is the one (doc, pos)
    winnowing pass + a broadcast semi-join, never pairwise."""
    from ominimo_dynamic_data_pipeline_spark.llm.text import winnow_fingerprints

    train_fps = winnow_fingerprints(df, id_col, text_col, k, window)
    eval_fps = (
        winnow_fingerprints(
            eval_df, eval_id_col or id_col, eval_text_col or text_col, k, window
        )
        .select("fp")
        .distinct()
    )
    return (
        train_fps.join(F.broadcast(eval_fps), on="fp")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_fps"))
    )


def dsir_importance(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    num_buckets: int | None = None,
    seed: int = 154,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every doc by
    how much more likely its tokens are under the TARGET distribution
    (rows where ``target`` is true, e.g. a trusted high-quality slice)
    than under the RAW corpus distribution.  Per-doc weight is the
    log-likelihood ratio  sum_w tf(w) * ln(p_target(w) / p_raw(w))  with
    add-``alpha`` smoothing over the observed feature space; high-weight
    docs "look like" the target and are what importance resampling keeps.

    ``num_buckets`` enables the paper's hashed-feature trick: tokens are
    bucketed by a portable md5 hash, which BOUNDS the feature table at
    ``num_buckets`` rows by construction — at 100 TB the bucket->ratio
    table broadcasts no matter how large the raw vocabulary grows (an
    unhashed unigram table over web text does not).  Scale shape: one
    token-stream shuffle with map-side combine for per-doc tf, one
    feature-keyed reduce for the two count profiles, a one-row totals
    aggregate cross-joined back, and a broadcast join of the bounded
    ratio table onto the per-doc tf stream — text never shuffles twice.

    Float discipline (the q110 technique, one step stronger): the
    per-feature log-ratio is quantized to an INTEGER micro-unit
    (round(lr * 1e6) as bigint) before the per-doc sum, so the sum is
    exact integer arithmetic in both engines — float sum-order drift
    cannot straddle any rounding boundary (measured: plain
    round-6-then-sum-doubles missed 2/500 rows at the 4th decimal).
    Residual cross-engine hazard: the ln() itself — if a value lands
    within 1 ulp of a 0.5 micro boundary the two libms can quantize one
    feature apart (the property test allows 2-micro slack for exactly
    this); eliminating it entirely would require rendering the ratio
    table as data-derived literals, the IVF-centroid discipline.
    ``llr`` is that exact sum / 1e6 with NO further rounding: the same
    integer divided by the same literal is the same double bit-for-bit,
    whereas a final round-4 re-introduces engine-specific half-point
    behavior (Spark rounds the shortest decimal repr, DuckDB the raw
    binary — measured divergence at an exact .5 half-point).  Null
    ``target`` counts as non-target.  Docs with zero tokens produce no
    postings and are absent from the output.
    """
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import md5_long
    from ominimo_dynamic_data_pipeline_spark.llm.text import tokens

    if num_buckets is not None and num_buckets <= 0:
        raise ValueError("dsir_importance: num_buckets must be positive")

    term = F.explode(tokens(F.col(text_col))).alias("term")
    keyed = df.select(
        F.col(id_col),
        F.coalesce(target, F.lit(False)).alias("_is_target"),
        term,
    )
    key = (
        (md5_long(F.col("term"), seed=seed) % num_buckets).alias("k")
        if num_buckets is not None
        else F.col("term").alias("k")
    )
    tf = (
        keyed.select(id_col, "_is_target", key)
        .groupBy(id_col, "_is_target", "k")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = tf.groupBy("k").agg(
        F.sum("tf").alias("c_raw"),
        F.sum(F.when(F.col("_is_target"), F.col("tf")).otherwise(0)).alias(
            "c_tgt"
        ),
    )
    totals = vocab.agg(
        F.sum("c_raw").alias("n_raw"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    raw_ratio = F.log(
        (F.col("c_tgt") + alpha) / (F.col("n_tgt") + alpha * F.col("v"))
    ) - F.log((F.col("c_raw") + alpha) / (F.col("n_raw") + alpha * F.col("v")))
    ratios = vocab.join(F.broadcast(totals)).select(
        "k",
        F.round(raw_ratio * 1e6).cast("bigint").alias("lr_micro"),
    )
    return (
        tf.join(F.broadcast(ratios), "k")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            (F.sum(F.col("tf") * F.col("lr_micro")) / 1e6).alias("llr"),
        )
    )


def interleave_order(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    seed: int = 159,
) -> DataFrame:
    """Deterministic group-balanced interleave order for training
    readers: rows sorted by ``interleave_pos`` round-robin across groups
    (sources/languages) — position (rank-1) * n_groups + group_index —
    so a reader streaming the corpus in order never sees a long
    same-source run, even though the corpus was written source-by-
    source.  Within each group the order is the seeded md5 key
    (reproducible across reruns/retries, no rand()); once a group
    exhausts, its slots become gaps — positions stay unique and
    strictly ordered, which is all a sort key needs.

    Adds ``rank_in_group`` and ``interleave_pos``.  Scale shape: ONE
    window exchange on the group key for the in-group rank; the group
    index table is the distinct group list — bounded by the group-value
    count, ranked on a single partition and broadcast back (same
    posture as temperature_mixture_sample's census).  At 100 TB write
    with sortWithinPartitions(interleave_pos) after a range
    repartition on it.
    """
    from pyspark.sql.window import Window

    if group_col not in df.columns or id_col not in df.columns:
        raise ValueError(
            f"interleave_order: input lacks {group_col!r} or {id_col!r}"
        )
    groups = df.select(group_col).distinct()
    # NULLS LAST to match the SQL twin: DuckDB's ORDER BY sorts NULL
    # after values, Spark's plain asc() sorts it first — a NULL group
    # would otherwise get a different index in each engine
    gidx = groups.select(
        group_col,
        (
            F.row_number().over(
                Window.orderBy(F.col(group_col).asc_nulls_last())
            )
            - 1
        )
        .cast("bigint")
        .alias("_gidx"),
    )
    ng = gidx.agg(F.count(F.lit(1)).cast("bigint").alias("_ng"))
    key = sample_key(F.col(id_col), seed)
    w = Window.partitionBy(group_col).orderBy(key.asc(), F.col(id_col).asc())
    # Null-safe group attach: a NULL group value is a real group (the
    # distinct list ranks it like any other, and the window partitions
    # NULLs together) — a plain equi-join would silently DROP every
    # NULL-group row from the curriculum, which an ordering operator
    # must never do.
    gidx = gidx.withColumnRenamed(group_col, "_ilo_g")
    return (
        df.withColumn(
            "rank_in_group", F.row_number().over(w).cast("bigint")
        )
        .join(
            F.broadcast(gidx),
            F.col(group_col).eqNullSafe(F.col("_ilo_g")),
        )
        .drop("_ilo_g")
        .join(F.broadcast(ng))
        .withColumn(
            "interleave_pos",
            (
                (F.col("rank_in_group") - 1) * F.col("_ng") + F.col("_gidx")
            ).cast("bigint"),
        )
        .drop("_gidx", "_ng")
    )
