"""Deduplication operators for LLM training corpora.

Five strategies, all shuffle-disciplined for 100 TB corpora:

  * exact            — hash-groupBy on a content fingerprint (1 shuffle)
  * minhash LSH      — shingle -> k min-hashes -> band buckets -> bucket
                       join for candidates -> exact-Jaccard verify.
                       Candidate generation never compares all pairs: the
                       join key is (band_id, band_hash), so cost is
                       sum over buckets of |bucket|^2, not N^2.
  * simhash          — 64-bit sign-aggregated token hashes; near-dups share
                       bucket on bit-bands (here: exact-signature match +
                       hamming verify on candidates)
  * n-gram Jaccard   — exact Jaccard on shingle sets for candidate pairs
  * embedding cosine — near-dup pairs above a cosine threshold (see
                       similarity.py for the k-NN variant)

Hash portability: every hash is derived from md5 (bit-identical across
engines), so the DuckDB oracle can verify full pipelines — Spark's native
xxhash64 would be faster but engine-private; swap via ``hash_fn`` if oracle
parity is not needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ominimo_dynamic_data_pipeline_spark.llm.text import normalize_text, tokens


MINHASH_PRIME = 1073741789  # largest prime < 2^30

# Intermediate frames persisted by dedup operators, keyed by operator
# name.  Each operator keeps at most ONE generation alive: a new call
# unpersists the previous call's frames first, and release_persisted()
# drops everything deterministically — so a long-lived session running
# the operators repeatedly cannot accumulate cached partitions until
# GC/session teardown (round-5 advice).
_PERSISTED: dict[str, list[DataFrame]] = {}


def _dre():
    """similarity.duck_round_expr via a call-time import: dedup is a
    similarity dependency, so the module edge must point the other way.
    Any double rounding that must hash-match a DuckDB ROUND routes
    through it (F.round's BigDecimal HALF_UP diverges on boundary
    doubles).  At d=0 the two are provably identical, so either spelling
    is correct there — the query catalog uses duck_round_expr uniformly
    for oracle-matched outputs, while purely-internal integer
    quantizations may keep F.round."""
    from ominimo_dynamic_data_pipeline_spark.llm.similarity import (
        duck_round_expr,
    )

    return duck_round_expr


def _persist_tracked(op: str, *frames: DataFrame):
    """MEMORY_AND_DISK-persist ``frames`` under the operator's registry
    slot, releasing the previous call's frames for the same operator.

    The persisted frames back a RETURNED lazy result, so they cannot be
    unpersisted inside the operator (the caller has not executed the
    frame yet); one-generation-per-operator bounds the cache instead,
    and sessions wanting tighter control call release_persisted() after
    materializing results."""
    from pyspark import StorageLevel

    for old in _PERSISTED.pop(op, []):
        try:
            old.unpersist(blocking=False)
        except Exception:  # pragma: no cover - session already stopped
            pass
    out = [f.persist(StorageLevel.MEMORY_AND_DISK) for f in frames]
    _PERSISTED[op] = list(out)
    return out[0] if len(out) == 1 else tuple(out)


def persist_tracked(op: str, *frames: DataFrame):
    """Public form of the one-generation tracked persist: persist
    ``frames`` MEMORY_AND_DISK under ``op``'s registry slot (releasing
    the previous generation) — for callers OUTSIDE this module that
    want the same bounded-cache discipline the dedup operators use.
    Pair with release_persisted(op) after materializing results."""
    return _persist_tracked(op, *frames)


def release_persisted(op: str | None = None) -> int:
    """Unpersist intermediate frames cached by dedup operators (all of
    them, or one operator's) and return how many frames were released.
    Safe to call at any time; subsequently executing a frame returned by
    a dedup operator recomputes instead of reading cache."""
    ops = [op] if op is not None else list(_PERSISTED)
    n = 0
    for key in ops:
        for df in _PERSISTED.pop(key, []):
            try:
                df.unpersist(blocking=False)
            except Exception:  # pragma: no cover - session already stopped
                pass
            n += 1
    return n


def md5_long(col: Column, seed: int | None = None) -> Column:
    """Portable 60-bit hash: first 15 hex digits of md5 as a bigint.
    DuckDB twin: CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)."""
    src = col if seed is None else F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(src), 1, 15), 16, 10).cast("bigint")


def _md5_long_sql(src: str, seed: int | None = None) -> str:
    """Spark-SQL rendering of :func:`md5_long` (same expression tree, one
    parser round trip instead of ~8 py4j calls — see the construction-
    latency note below)."""
    s = src if seed is None else f"concat('{seed}:', {src})"
    return f"cast(conv(substring(md5({s}), 1, 15), 16, 10) as bigint)"


# Construction-latency discipline (round 13): the signature/banding
# stages are rebuilt from scratch on EVERY query invocation, and each
# pyspark Column call is one ~0.25 ms py4j round trip — a 16-min
# aggregate assembled per-Column costs ~220 ms of driver wall before any
# task runs (cProfile: q127 spent 1.9 s of its 2.9 s wall in py4j
# recv during construction).  Hot expression LADDERS (16 minhash mins,
# 64 simhash sign sums, band-bucket structs) are therefore rendered as
# SQL strings in Python (free) and parsed with ONE F.expr round trip
# per output column; tests pin the optimized plans IDENTICAL to the
# Column-built forms, so execution semantics are untouched (the r12
# _lit_double_arrays precedent, generalized from literals to ladders).


def evaluate_once(c: Column) -> Column:
    """Pin an EXPENSIVE expression so the optimizer evaluates it exactly
    once, by adding a provably-zero nondeterministic term (rand()*0).

    Why: staging an expensive expression into its own projection stops
    CollapseProject from duplicating it (the duck_round_expr contract),
    but PushDownPredicates still substitutes the alias into any filter
    pushed through the projection — and a filter pushed all the way into
    a JOIN CONDITION re-evaluates the expression per reference.
    Measured on the near-dup verify family: the `jaccard >= t` /
    `greatest(containment) >= t` threshold filters inlined
    ``size(array_intersect(sa.sh, sb.sh))`` TWICE into the pair-join
    condition on top of the staged projection's own copy — three
    O(|A|+|B|) hash-set passes per candidate pair where one suffices
    (plans/r13/*_before.txt).  Marking the staged column nondeterministic
    makes ``fields.forall(_.deterministic)`` false, so the filter stays
    above the projection and references the attribute instead (the guide
    §4.4 technique — nondeterminism as a duplication barrier — applied
    to a JVM expression).

    The added term is identically zero (rand in [0,1) times 0, cast to
    the column's integer domain), so values, nullability (null + 0 =
    null) and the declared query results are unchanged; task retries see
    the same +0.  Use ONLY on expensive integer-valued expressions
    consumed by a downstream filter; the flag also blocks legitimate
    pushdown of unrelated filters through the projection, so keep such
    filters upstream of the staging select (all in-module callers do).
    """
    return c + (F.rand(seed=0) * F.lit(0)).cast("int")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED token
    array column.

    ``toks`` must be a plain attribute reference (a column produced by an
    earlier projection), never an inline expression: ``element_at`` runs
    inside a higher-order-function lambda, where Spark re-evaluates argument
    expressions per element and subexpression elimination does not apply —
    an inline ``tokens(text)`` there costs O(grams * n) regex+split passes
    per row (measured: >10 min for 5k docs vs <1 s staged)."""
    k = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(-1)))
    grams = F.when(
        k >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def _ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (embedded backticks
    doubled), safe to splice into rendered SQL for any column name."""
    return "`" + name.replace("`", "``") + "`"


def _tokens_sql(src: str) -> str:
    """Spark-SQL rendering of text.tokens() over column ``src`` (same
    expression tree; construction-latency note at _md5_long_sql)."""
    norm = f"regexp_replace(trim(lower({_ident(src)})), '\\\\s+', ' ')"
    return f"filter(split({norm}, '\\\\s+'), t -> t != '')"


def _shingles_sql(toks: str, n: int) -> str:
    """Spark-SQL rendering of shingles_from_tokens over attribute
    ``toks`` (same expression tree; see _md5_long_sql)."""
    toks = _ident(toks)
    parts = ", ".join(f"element_at({toks}, i + {j + 1})" for j in range(n))
    grams = (
        f"transform(sequence(0, greatest(size({toks}) - {n}, -1)),"
        f" i -> concat_ws(' ', {parts}))"
    )
    return (
        f"array_distinct(CASE WHEN size({toks}) >= {n} THEN {grams}"
        f" ELSE cast(array() as array<string>) END)"
    )


def shingle_frame(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, sh) frame via staged projections: text -> toks -> shingles,
    keeping only docs with >= n tokens (i.e. >= 1 shingle).

    Each stage materializes its array once per row; Catalyst keeps the
    stages separate (CollapseProject declines to inline a non-cheap alias
    referenced more than once).  The emptiness filter lives HERE, on the
    token count, and must never be phrased against a downstream shingle/
    signature column: predicate pushdown substitutes alias expressions into
    the condition, and a condition containing the element_at lambda
    re-inlines tokens(text) per element — the same blow-up
    shingles_from_tokens documents (measured: 0.8 s -> 30+ s at sf0.01).
    SQL-rendered ladders (construction-latency note at _md5_long_sql);
    plans pinned identical to the Column-built form in tests."""
    toks = df.selectExpr(
        _ident(id_col), f"{_tokens_sql(text_col)} AS toks"
    ).filter(F.size(F.col("toks")) >= n)
    return toks.selectExpr(
        _ident(id_col), f"{_shingles_sql('toks', n)} AS sh"
    )


def gram_frame(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """EXPLODED distinct n-grams: (id, gram) rows, one per distinct token
    n-gram of each doc.

    Do NOT build this as ``explode(shingle_frame(...).sh)``: Spark's
    InferFiltersFromGenerate plants a ``size(sh) > 0`` filter under the
    Generate, predicate pushdown substitutes the whole alias chain into
    it, and the re-inlined ``tokens(text)`` inside the element_at lambda
    costs O(grams * tokens) regex passes per row (measured: 46 s vs 1.5 s
    at sf0.1 for 8-grams).  This shape instead posexplodes tokens and
    assembles grams with window ``lead``s — fully codegen'd, one exchange
    on the doc id (which downstream per-doc aggregations reuse)."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    tail = F.lead("tok", n - 1).over(w)
    return (
        toks.select(
            F.col(id_col),
            F.concat_ws(" ", *parts).alias("gram"),
            tail.alias("_tail"),
        )
        .filter(F.col("_tail").isNotNull())
        .drop("_tail")
        .dropDuplicates([id_col, "gram"])
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the lowest-id representative per distinct normalized text.
    One hash-partition shuffle on the fingerprint; survivors = group mins."""
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        df.withColumn("fp", fp)
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc minhash signature: for each of ``num_hashes`` hash functions,
    the min hash over the doc's shingles.

    Hash family: Kirsch-Mitzenmacher double hashing.  Each shingle is
    md5-hashed ONCE to a 60-bit base; h_i = (hi30 + (i+1)*lo30) mod P with
    P the largest prime < 2^30.  One md5+conv per shingle instead of
    ``num_hashes`` (16x fewer: cut the sf0.1 signature job from 23 s to
    ~4 s) and products stay < 2^35, inside exact bigint range for both
    Spark and the DuckDB oracle.

    Two physical forms, same results (round-12 optimization):

    * ``shingles`` provided AND persisted (every hot-path caller — the
      catalog queries all run ``cache_shingles=True``): the cached
      arrays EXPLODE into (id, shingle) rows, md5 is staged once per
      row, and all ``num_hashes`` minima run as ONE whole-stage-codegen
      hash aggregate.  Array higher-order functions are CodegenFallback
      (interpreted per element, boxed) — the explode+agg form measured
      1.70 s -> 0.90 s at sf0.1, collect-identical.  A MIN is
      insensitive to duplicates, so the exploded multiset needs no
      dedup; partial aggregation reduces to one 17-column row per
      (doc, map task) before the exchange, so the added shuffle carries
      ~``8*(num_hashes+1)`` bytes/doc at any corpus size.  The
      InMemoryRelation boundary makes the explode safe
      (InferFiltersFromGenerate cannot re-inline the tokenize chain —
      the gram_frame blow-up).
    * otherwise: the per-row HOF ladder (text -> toks -> sh -> hs ->
      mins staged projections, zero shuffle).  Exploding an UNPERSISTED
      shingle frame would re-inline ``tokens()`` into the inferred
      Generate filter (O(grams x tokens) regex passes — see
      gram_frame), and a window-assembled gram stream would shuffle
      text; interpreted minima are the cheaper evil here.  The guard is
      the frame's actual storage level, not the argument's presence, so
      an unpersisted shared frame still degrades safely.

    Edge divergence between the two forms (caller-supplied frames only):
    a doc whose ``sh`` array is EMPTY is dropped by the explode+agg path
    but emitted with NULL mh_i columns by the HOF path.  shingle_frame
    never produces empty arrays (its ``>= n`` token filter guarantees
    >= 1 shingle), so every in-repo caller sees identical results; a
    caller-supplied ``shingles`` frame must uphold the same no-empty-
    arrays contract.
    """
    lo_mask = F.lit((1 << 30) - 1)
    prime = F.lit(MINHASH_PRIME)
    if shingles is not None and (
        shingles.storageLevel.useMemory or shingles.storageLevel.useDisk
    ):
        # SQL-rendered ladder (construction-latency note at _md5_long_sql;
        # optimized plan pinned identical to the Column-built form)
        hashed = shingles.select(
            F.col(id_col), F.explode("sh").alias("_sg")
        ).selectExpr(_ident(id_col), f"{_md5_long_sql('_sg')} AS _h")
        lo_sql = f"(_h & {(1 << 30) - 1})"
        return hashed.groupBy(id_col).agg(
            *[
                F.expr(
                    f"min((shiftright(_h, 30) + {i + 1} * {lo_sql})"
                    f" % {MINHASH_PRIME}) AS mh_{i}"
                )
                for i in range(num_hashes)
            ]
        )
    sh_df = (
        shingles
        if shingles is not None
        else shingle_frame(df, id_col, text_col, shingle_n)
    )
    # Stage base hashes, then the split halves, each from the previous
    # attribute (one md5 per shingle; per-(i, shingle) work in the nested
    # transform is then one multiply-add-mod).
    hs_df = sh_df.select(
        F.col(id_col),
        F.transform(F.col("sh"), lambda s: md5_long(s)).alias("hs"),
    ).select(
        F.col(id_col),
        F.transform(F.col("hs"), lambda h: F.shiftright(h, 30)).alias("hi"),
        F.transform(F.col("hs"), lambda h: h.bitwiseAND(lo_mask)).alias("lo"),
    )
    # All num_hashes minima in ONE nested transform (array column), then
    # element extraction: ~2.6x faster than num_hashes separate HOF columns
    # (each top-level HOF column pays its own interpreted-eval setup).
    mins = F.transform(
        F.sequence(F.lit(1), F.lit(num_hashes)),
        lambda i: F.array_min(
            F.zip_with(
                F.col("hi"), F.col("lo"), lambda h, l: (h + i * l) % prime
            )
        ),
    )
    mins_df = hs_df.select(F.col(id_col), mins.alias("mins"))
    # No null filter here: shingle_frame already dropped shingle-less docs,
    # and a predicate on mh_i would be pushed down with the whole expression
    # chain substituted in (see shingle_frame docstring).
    return mins_df.select(
        F.col(id_col),
        *[F.col("mins")[i].alias(f"mh_{i}") for i in range(num_hashes)],
    )


def pair_budget_cutoff(
    hist: list[tuple[int, int]], max_pairs: int
) -> tuple[int | None, int]:
    """Resolve a total-pair budget against a bucket-size histogram of
    ``(size, bucket_count)`` rows: returns ``(cutoff, kept_pairs)`` where
    buckets of size >= ``cutoff`` must be shed (``None`` = everything
    fits).  Policy: smallest buckets are kept first; the first size whose
    pairs overflow the budget sheds itself and every larger size (a
    bigger bucket never squeezes in after a smaller one overflowed).
    Shared by expand_member_pairs and simhash_near_dups so the generic
    budget and the band-aware one shed identically."""
    total, cutoff = 0, None
    for n, buckets in sorted(hist):
        pairs = n * (n - 1) // 2 * buckets
        if total + pairs > max_pairs:
            cutoff = n
            break
        total += pairs
    return cutoff, total


def expand_member_pairs(
    grouped: DataFrame,
    members_col: str,
    keep_cols: tuple[str, ...] = (),
    max_pairs: int | None = None,
) -> DataFrame:
    """All ordered in-bucket pairs from a grouped frame holding a SORTED
    ``members_col`` array: posexplode each member, pair it with the slice
    of strictly-later members, explode again.

    Two pipelined generates — per output row only the O(|bucket|) members
    array is live, never an O(|bucket|^2) pair array (a flatten-of-
    transforms materializes all pairs of a bucket in ONE row's array,
    which at a degenerate 10^4-member bucket is a multi-GB single row).
    Emits columns ``a`` and ``b`` (the paired member values) plus any
    requested ``keep_cols`` carried through from the group row.

    ``max_pairs`` is an optional OUTPUT budget (the backpressure twin of
    the per-bucket ``max_bucket_size`` guards): when the total pair count
    would exceed it, the largest buckets are shed — smallest first are
    kept — until the total fits, and the shedding is LOUD (a warning
    naming the shed bucket sizes and pair counts).  Resolution is one
    count-only census shuffled as a bucket-SIZE histogram (|distinct
    sizes| tiny rows, collected once), so the guard itself never touches
    member lists; the resulting filter is a plain ``size(members) <= s``
    predicate.  Like the simhash census, the budget job runs when this
    function is CALLED, not when the returned frame executes."""
    reserved = {"a", "b", "_i", "_members"} & set(keep_cols)
    if reserved:
        raise ValueError(
            "expand_member_pairs keep_cols collide with internal/output "
            f"column names: {sorted(reserved)}"
        )
    if max_pairs is not None:
        # The census below is a separate EAGER job over the grouped
        # frame; without a persist the returned frame re-runs the whole
        # upstream pipeline (tokenize + hash + collect_list) a second
        # time when it executes.  One generation kept per operator;
        # release_persisted() drops it deterministically.
        grouped = _persist_tracked("expand_member_pairs", grouped)
        hist = [
            (r["n"], r["buckets"])
            for r in grouped.select(F.size(F.col(members_col)).alias("n"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("buckets"))
            .collect()
        ]
        cutoff, total = pair_budget_cutoff(hist, max_pairs)
        if cutoff is not None:
            import warnings

            shed = [(n, b) for n, b in hist if n >= cutoff]
            warnings.warn(
                f"expand_member_pairs: pair budget max_pairs={max_pairs} "
                f"exceeded; shedding buckets of size >= {cutoff} "
                f"(size, count): {sorted(shed)} — keeping {total} pairs",
                stacklevel=2,
            )
            grouped = grouped.filter(F.size(F.col(members_col)) < cutoff)
    m = F.col(members_col)
    exploded = grouped.select(
        *keep_cols, m.alias("_members"), F.posexplode(m).alias("_i", "a")
    )
    return exploded.select(
        *keep_cols,
        "a",
        F.explode(
            F.slice(F.col("_members"), F.col("_i") + 2, F.size("_members"))
        ).alias("b"),
    )


def _band_bucket_structs(num_hashes: int, bands: int):
    """Array of (band, bucket) structs from the mh_* signature columns:
    bucket = md5 of the '-'-joined band rows (portable; the oracle
    replicates concat_ws + md5 exactly).  SQL-rendered, one parse round
    trip (construction-latency note at _md5_long_sql)."""
    rows_per_band = num_hashes // bands
    band_sqls = []
    for b in range(bands):
        parts = ", ".join(
            f"cast(mh_{b * rows_per_band + r} as string)"
            for r in range(rows_per_band)
        )
        band_sqls.append(
            f"named_struct('band', {b},"
            f" 'bucket', md5(concat_ws('-', {parts})))"
        )
    return F.expr("array(" + ", ".join(band_sqls) + ")")


def minhash_band_buckets(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(id, band, bucket) rows — the LSH band INDEX of a signature frame.

    This is the shape a continuous-ingest pipeline PERSISTS for its
    curated corpus (a few rows of ~50 bytes per doc): an incoming batch
    joins its own band rows against this index on (band, bucket) to find
    cross-corpus candidates without touching reference text.
    ``max_bucket_size`` sheds oversized buckets via one count window —
    the same skew guard as minhash_band_candidates, applied per corpus
    side."""
    from pyspark.sql.window import Window

    buckets = sigs.select(
        F.col(id_col), F.explode(_band_bucket_structs(num_hashes, bands)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket")
        buckets = (
            buckets.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    return buckets


def minhash_band_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
    max_pairs: int | None = None,
) -> DataFrame:
    """LSH banding: docs agreeing on ALL rows of any band become candidate
    pairs.

    Shape: unpivot signature -> (band, bucket) rows, ONE shuffle to group
    each bucket's member ids, then expand in-bucket pairs row by row
    (expand_member_pairs).  A bucket self-join would compute the whole
    signature pipeline twice (broadcast side + streamed side; no exchange
    reuse under AQE) — the groupBy computes it once and its shuffle
    carries only (band, bucket, id).  Cost stays sum(|bucket|^2), never
    N^2; ``max_bucket_size`` is the skew guard: a degenerate bucket (a
    boilerplate shingle-set shared by 10^5 docs) is shed instead of
    quadratically dominating the stage — its members' true near-dups are
    still found through their other, discriminating bands."""
    buckets = sigs.select(
        F.col(id_col), F.explode(_band_bucket_structs(num_hashes, bands)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    grouped = (
        buckets.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket_size)
    return (
        expand_member_pairs(grouped, "ids", max_pairs=max_pairs)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    shingles_b: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard similarity on shingle sets for given candidate pairs.
    Pass a precomputed ``shingles`` frame to share the shingle stage.
    ``shingles_b`` resolves the ``id_b`` side from a DIFFERENT corpus
    (cross-corpus verification, e.g. incremental_near_dedup's batch vs
    reference); default is the same frame on both sides.

    PRECONDITION: shingle arrays must hold DISTINCT elements (what
    shingle_frame produces — its grams are array_distinct).  The union
    size is derived as |A|+|B|−|A∩B|, which is only exact for
    duplicate-free arrays; a caller-supplied frame with repeated
    elements gets silently wrong jaccard values (the pre-round-12
    array_union form self-corrected duplicates)."""
    sh = (
        shingles
        if shingles is not None
        else shingle_frame(df, id_col, text_col, shingle_n)
    )
    a = sh.alias("sa")
    b = (sh if shingles_b is None else shingles_b).alias("sb")
    # NOTE: unlike containment_scores, the candidate stream here gets NO
    # pre-join repartition — LSH verify pair volumes are small enough
    # that the extra exchange measured neutral-to-worse (3 interleaved
    # cycles on q26/q57/q127/q195); the containment path's rare-shingle
    # candidates are ~10x more compute per row and did win (1.8x).
    # Only SIZES are needed: |A∪B| = |A| + |B| - |A∩B| for the distinct
    # shingle sets, so the O(|A|+|B|) hash-set pass of array_union is
    # replaced by two O(1) size() lookups — one set pass per pair
    # instead of two, same integers, same double division (round-12;
    # containment_scores applies the identity the same way).  The sizes
    # must be STAGED before the division: duck-rounding-free here, but
    # the raw expression referenced twice would re-run array_intersect.
    # evaluate_once pins the staging against filter pushdown: callers'
    # `jaccard >= t` filters otherwise inline the intersect TWICE into
    # the pair-join condition (round-13; three set passes per pair -> 1).
    staged = (
        pairs.join(a, pairs.id_a == F.col(f"sa.{id_col}"))
        .join(b, pairs.id_b == F.col(f"sb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            evaluate_once(
                F.size(F.array_intersect("sa.sh", "sb.sh"))
            ).alias("_inter"),
            (F.size("sa.sh") + F.size("sb.sh")).alias("_nab"),
        )
    )
    return staged.select(
        "id_a",
        "id_b",
        (F.col("_inter") / (F.col("_nab") - F.col("_inter"))).alias(
            "jaccard"
        ),
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    cache_shingles: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: signatures -> band candidates -> exact
    Jaccard filter at ``threshold``.  ``max_bucket_size`` is the LSH skew
    guard (see minhash_band_candidates).

    ``cache_shingles`` persists the shingle frame (MEMORY_AND_DISK), which
    otherwise appears three times in the plan — under the signature
    pipeline and on both sides of the Jaccard verify join — so the
    tokenize+shingle work runs once instead of three times.  The cached
    frame is (id, shingle array), tiny relative to the corpus; Spark's
    LRU evicts it when memory is needed."""
    sh = shingle_frame(df, id_col, text_col, shingle_n)
    if cache_shingles:
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, shingles=sh
    )
    cands = minhash_band_candidates(
        sigs, id_col, num_hashes, bands, max_bucket_size
    )
    return jaccard_pairs(
        df, cands, id_col, text_col, shingle_n, shingles=sh
    ).filter(F.col("jaccard") >= threshold)


def simhash(col: Column, bits: int = 64) -> Column:
    """SimHash over whitespace tokens: per bit, sign of the sum of
    (+1 / -1) contributions from each distinct token's hash bit.

    Built from two portable 60-bit md5 hashes (bits 0-59 from seed 101,
    60+ from seed 202) so the oracle can replicate.  Per-row, shuffle-free.

    Column-helper form for small frames/tests: the token hashes are inline,
    so every bit recomputes them (O(bits) md5 passes per row).  Hot paths
    must use ``simhash_frame``, which stages the hash array once."""
    toks = F.array_distinct(tokens(col))

    def bit_sum(i: int) -> Column:
        seed, off = (101, i) if i < 60 else (202, i - 60)
        return F.aggregate(
            toks,
            F.lit(0),
            lambda acc, t: acc
            + F.when(F.shiftright(md5_long(t, seed=seed), off).bitwiseAND(1) == 1, 1).otherwise(-1),
        )

    out = F.lit(0).cast("bigint")
    for i in range(bits):
        out = out + F.when(
            bit_sum(i) > 0, F.shiftleft(F.lit(1).cast("bigint"), i)
        ).otherwise(F.lit(0).cast("bigint"))
    return out.cast("bigint")


def simhash_frame(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """(id, sig) SimHash frame (the hot-path twin of the ``simhash``
    column helper; identical signatures).

    Round-12 shape — explode + ONE codegen hash aggregate (the
    minhash_signatures precedent): distinct tokens EXPLODE to
    (id, token) rows, each token is md5-hashed once per seed (seed 101
    for bits 0-59, 202 above), and all ``bits`` sign sums run as one
    whole-stage-codegen aggregate; the signature assembles from the
    summed signs in a plain projection.  Integer sums are
    order-insensitive, so results are bit-identical to the previous
    per-row form (staged projections whose per-bit sign sums ran
    through ``F.aggregate`` — CodegenFallback, interpreted per array
    element).  The added exchange carries ~``8 * (bits + 1)`` bytes per
    doc at any corpus size; map-side partial aggregation reduces the
    exploded stream before it.  Exploding is safe here because the
    Generate input is the raw tokenize expression (the inferred
    size() > 0 filter re-evaluates tokens() once per row, the same
    cost the previous emptiness filter paid — never the O(grams x
    tokens) shingle-lambda blow-up gram_frame documents)."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("_t"),
    )
    # SQL-rendered ladders below (construction-latency note at
    # _md5_long_sql): the 64 sign-sum aggregates plus the 64-term
    # signature fold cost ~1000 py4j round trips per invocation when
    # assembled Column-by-Column; optimized plans pinned identical.
    hash_exprs = [f"{_md5_long_sql('_t', seed=101)} AS _h1"]
    if bits > 60:
        hash_exprs.append(f"{_md5_long_sql('_t', seed=202)} AS _h2")
    hashed = toks.selectExpr(_ident(id_col), *hash_exprs)

    def sign_sum(i: int) -> Column:
        src, off = ("_h1", i) if i < 60 else ("_h2", i - 60)
        return F.expr(
            f"sum(CASE WHEN (shiftright({src}, {off}) & 1) = 1"
            f" THEN 1 ELSE -1 END) AS _s{i}"
        )

    sums = hashed.groupBy(id_col).agg(*[sign_sum(i) for i in range(bits)])
    sig = " + ".join(
        f"CASE WHEN _s{i} > 0 THEN shiftleft(cast(1 as bigint), {i})"
        f" ELSE cast(0 as bigint) END"
        for i in range(bits)
    )
    return sums.selectExpr(
        _ident(id_col), f"(cast(0 as bigint) + {sig}) AS sig"
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    max_hamming: int = 3,
    bands: int = 2,
    max_bucket_size: int | None = None,
    max_pairs: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: multi-band bit-bucket candidates, verified
    by Hamming distance on the full signature.

    The signature is split into ``bands`` equal bit-bands; docs sharing
    ANY band's bits become candidates (union of band tables, deduped by
    distinct).  Pigeonhole guarantee: with ``bands > max_hamming`` the
    <= max_hamming differing bits cannot touch every band, so at least one
    band matches exactly — recall is 1.0 (pinned by test against brute
    force).  Fewer bands trade recall for smaller/fewer buckets.

    One shuffle: group each (band, bits) bucket's (id, sig) members, then
    expand in-bucket pairs row by row (expand_member_pairs; a self-join
    would compute the signature pipeline twice).  ``max_bucket_size``
    sheds degenerate buckets — the skew guard for corpora where one band
    value dominates."""
    sigs = simhash_frame(df, id_col, text_col, bits=bits)
    width = bits // bands
    mask = F.lit((1 << width) - 1)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("sig", b * width).bitwiseAND(mask).alias("bits"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        F.col(id_col), F.col("sig"), F.explode(band_structs).alias("bb")
    ).select(
        id_col, "sig", F.col("bb.band").alias("band"), F.col("bb.bits").alias("bits")
    )
    need_census = max_bucket_size is not None or max_pairs is not None
    if need_census:
        # The census below is a separate eager job, so ReusedExchange can
        # never share the signature pipeline with the returned frame —
        # persist the banded signatures once instead of hashing every
        # token twice (one generation kept per operator;
        # release_persisted() drops it deterministically).
        banded = _persist_tracked("simhash_near_dups", banded)
    pre = banded.groupBy("band", "bits").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(id_col).alias("id"), "sig"))
        ).alias("members")
    )
    grouped = pre.filter(F.size("members") > 1)
    shed_bits: dict[int, list[int]] = {}
    if need_census:
        # Shed-bucket lookup as LITERALS, resolved by one count-only
        # census: map-side partial counts -> a shuffle of at most
        # bands * 2^width tiny rows (the bucket key space is structurally
        # bounded by the band width, e.g. 512 rows for bits=16/bands=2),
        # collected once to the driver.  Round-3 advice replaced the
        # previous per-lower-band broadcast joins, which re-derived the
        # full members aggregation as a separate lineage per band (the
        # pushed band filter makes the exchanges non-identical, so
        # ReusedExchange can never fire); the census instead runs exactly
        # once regardless of ``bands`` and shuffles counts, not member
        # lists.  Cost: one extra signature pass when the cap is set;
        # empty result (the healthy-data case) folds the suppression
        # filter back to plain bit equality.  NOTE: the census job runs
        # when this function is CALLED (driver-side literals), not when
        # the returned frame executes.
        # ``max_pairs`` is resolved HERE, not delegated to
        # expand_member_pairs: the cross-band suppression filter below
        # must know which (band, bits) buckets the budget shed, or a pair
        # whose lowest matching band was budget-shed would be silently
        # suppressed out of its surviving higher band — the same recall
        # hole the max_bucket_size census already plugs.  Both guards
        # share one count-only census and collapse to a single effective
        # per-bucket size threshold (pair_budget_cutoff keeps smallest
        # buckets first, exactly the generic budget's policy).
        census = banded.groupBy("band", "bits").agg(
            F.count(F.lit(1)).alias("n")
        )
        threshold = max_bucket_size
        if max_pairs is not None:
            hist = [
                (r["n"], r["buckets"])
                for r in census.filter(F.col("n") > 1)
                .groupBy("n")
                .agg(F.count(F.lit(1)).alias("buckets"))
                .collect()
                if threshold is None or r["n"] <= threshold
            ]
            cutoff, total = pair_budget_cutoff(hist, max_pairs)
            if cutoff is not None:
                import warnings

                warnings.warn(
                    f"simhash_near_dups: pair budget max_pairs={max_pairs}"
                    f" exceeded; shedding buckets of size >= {cutoff} "
                    f"— keeping {total} candidate pairs",
                    stacklevel=2,
                )
                threshold = min(
                    threshold if threshold is not None else cutoff - 1,
                    cutoff - 1,
                )
        if threshold is not None:
            for row in census.filter(F.col("n") > threshold).collect():
                shed_bits.setdefault(row["band"], []).append(row["bits"])
            grouped = grouped.filter(F.size("members") <= threshold)
    # Multi-band dedup WITHOUT a distinct: a pair agreeing on several
    # bands would be emitted once per band, and distinct-ing the pair
    # stream costs a full output-sized shuffle (2.9M rows at sf0.1).
    # Instead each pair is kept only in its lowest matching SURVIVING
    # band: for band b, drop the row if any band b' < b also matches AND
    # that lower bucket was not shed.  The surviving qualifier matters —
    # a pair whose band-0 bucket was shed by the skew guard must still be
    # emitted from its matching band-1 bucket (that cross-band recovery
    # is the guard's recall story), so a shed lower band never suppresses
    # a pair.  Shed-ness is a literal isin on the bits both sides already
    # carry (see the census above).
    pairs = expand_member_pairs(grouped, "members", keep_cols=("band",))

    def _bits(side: str, b: int):
        return F.shiftright(F.col(f"{side}.sig"), b * width).bitwiseAND(mask)

    def _lower_match(bp: int) -> Column:
        m = _bits("a", bp) == _bits("b", bp)
        if shed_bits.get(bp):
            m = m & ~_bits("a", bp).isin(shed_bits[bp])
        return m

    keep = F.lit(False)
    for b in range(bands - 1, -1, -1):
        no_lower = F.lit(True)
        for bp in range(b):
            no_lower = no_lower & ~_lower_match(bp)
        keep = F.when(F.col("band") == b, no_lower).otherwise(keep)
    return (
        pairs.filter(keep)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns, computed in
    double via higher-order functions (JVM-side, no UDF)."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(
        F.aggregate(F.transform(da, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(db, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )
    return dot / (na * nb)


def norm_frame(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id, vec double-cast, L2 norm) staged projection.  Norms and casts
    are per-ROW quantities: computing them here (N evaluations) instead of
    inside a pairwise join (N^2 evaluations) cut the sf0.1 near-dup query
    from 98 s to the dot-product-only cost, with bit-identical results —
    cos is still dot/(na*nb) on the same doubles."""
    cast = df.select(
        F.col(id_col),
        *(extra_cols or []),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec_d"),
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col("vec_d"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return cast.withColumn("nrm", nrm)


def dot_double(a: Column, b: Column) -> Column:
    """Dot product of two array<double> attribute columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bucket_col: str | None = None,
) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold.

    Brute-force O(N^2/2) pairs — correct baseline for verification scale.
    At 100 TB pass ``bucket_col`` (e.g. an LSH bucket or cluster label) to
    restrict comparisons within buckets, turning the blow-up into
    sum(|bucket|^2); see similarity.embedding_near_dups_lsh.  Norms/casts are staged
    per row (norm_frame) so the pairwise work is one dot product.
    """
    nf = norm_frame(df, id_col, vec_col, [bucket_col] if bucket_col else None)
    a = nf.select(
        F.col(id_col).alias("id_a"), F.col("vec_d").alias("va"),
        F.col("nrm").alias("nrm_a"),
        *( [F.col(bucket_col).alias("bucket_a")] if bucket_col else [] ),
    )
    b = nf.select(
        F.col(id_col).alias("id_b"), F.col("vec_d").alias("vb"),
        F.col("nrm").alias("nrm_b"),
        *( [F.col(bucket_col).alias("bucket_b")] if bucket_col else [] ),
    )
    cond = F.col("id_a") < F.col("id_b")
    if bucket_col:
        cond = cond & (F.col("bucket_a") == F.col("bucket_b"))
    return (
        a.join(b, cond)
        .select(
            "id_a",
            "id_b",
            (
                dot_double(F.col("va"), F.col("vb"))
                / (F.col("nrm_a") * F.col("nrm_b"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_near_dups_blas(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Brute-force embedding near-dup pairs via an Arrow-batched numpy
    kernel (mapInPandas) — the fast path for the all-pairs baseline.

    TEST/VERIFICATION BASELINE ONLY — this collects the full corpus to the
    driver and closes over it, which presumes the corpus fits one machine.
    The catalog / 100 TB path is similarity.embedding_near_dups_lsh
    (per-bucket Arrow kernel, no driver collect); the Catalyst twin is
    embedding_near_dups(bucket_col=...).  Sums are accumulated
    dimension-by-dimension (vectorized across pairs), which is bit-identical
    to the sequential fold both the Catalyst path and the DuckDB oracle
    compute — same doubles, ~15x less wall clock than the interpreted
    higher-order functions (sf0.1: 30 s -> ~2 s).
    """
    import numpy as np

    id_field = df.schema[id_col].dataType.simpleString()
    pdf_all = df.select(id_col, vec_col).toPandas()
    ids_all = pdf_all[id_col].to_numpy()
    x_all = np.stack(pdf_all[vec_col].to_numpy()).astype(np.float64)
    n, dim = x_all.shape
    acc = np.zeros(n)
    for d in range(dim):
        acc += x_all[:, d] * x_all[:, d]
    nrm_all = np.sqrt(acc)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids_b = pdf[id_col].to_numpy()
            x_b = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            acc_b = np.zeros(len(ids_b))
            dots = np.zeros((len(ids_b), n))
            for d in range(dim):
                acc_b += x_b[:, d] * x_b[:, d]
                dots += np.outer(x_b[:, d], x_all[:, d])
            cos = dots / np.outer(np.sqrt(acc_b), nrm_all)
            ia, ib = np.nonzero(
                (ids_b[:, None] < ids_all[None, :]) & (cos >= threshold)
            )
            yield pd.DataFrame(
                {"id_a": ids_b[ia], "id_b": ids_all[ib], "cos": cos[ia, ib]}
            )

    schema = f"id_a {id_field}, id_b {id_field}, cos double"
    return df.select(id_col, vec_col).mapInPandas(kernel, schema)


def dedup_clusters(
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over near-dup ``pairs`` (id_a < id_b):
    (id, cluster_id) with cluster_id = the component's minimum id — the
    cluster-analytics twin of the greedy ``dedup_corpus`` filter.

    Iterative min-label propagation: every node starts as its own label;
    each round takes the min of its label and its neighbors' labels until
    a fixpoint (<= graph diameter rounds — near-dup graphs are shallow:
    dup clusters are quasi-cliques).  Each round is one join + groupBy on
    the edge list, fully distributed; ``localCheckpoint`` truncates the
    growing lineage so round N does not replay rounds 1..N-1.  At 100 TB
    scale-out the same loop applies (alternate large-star/small-star for
    very high-degree graphs).
    """
    if not isinstance(max_iterations, int) or max_iterations < 1:
        raise ValueError(
            f"dedup_clusters: max_iterations must be a positive int, "
            f"got {max_iterations!r}"
        )
    missing = [c for c in ("id_a", "id_b") if c not in pairs.columns]
    if missing:
        raise ValueError(f"dedup_clusters: input lacks columns {missing}")
    # materialize the edge list ONCE: without this every propagation round
    # would re-run the whole upstream pair pipeline (minhash, jaccard, ...)
    # as part of the join lineage
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint()
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = (
        sym.select(F.col("src").alias("id")).distinct().withColumn(
            "label", F.col("id")
        )
    ).localCheckpoint()
    for _ in range(max_iterations):
        neigh = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # carry the old label through so convergence is a narrow filter on
        # the checkpointed frame, not another join against the old round
        stepped = (
            labels.join(neigh, labels.id == neigh.src, "left")
            .select(
                "id",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            stepped.filter(F.col("label") != F.col("old_label"))
            .limit(1)
            .count()
        )
        labels = stepped.select("id", "label")
        if changed == 0:
            break
    return labels.select(
        F.col("id").alias(id_col), F.col("label").alias("cluster_id")
    )


def cluster_representatives(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "n_chars",
) -> DataFrame:
    """Canonical-document selection per near-dup cluster (the q191
    operator): for each cluster from ``dedup_clusters``, keep the member
    with the highest ``score_col`` (ties -> lowest ``id_col``) — the
    "keep best of cluster" step a curation pipeline runs after
    clustering, instead of ``dedup_corpus``'s keep-lowest-id greedy.

    Returns (cluster_col, rep_<id_col>, n_members, score_kept,
    score_dropped).  Scale shape: ``clusters`` is bounded by the pair
    budget (never corpus-sized), so the score join touches only
    clustered ids and broadcasts; the argmax is one window pass and the
    totals one keyed aggregate, both partitioned by the cluster id.
    Dropped-score totals accumulate in DECIMAL (bigint wraps at the
    100 TB posture) and surface as exact BIGINT."""
    missing = [c for c in (id_col, cluster_col) if c not in clusters.columns]
    if missing:
        raise ValueError(
            f"cluster_representatives: clusters frame lacks columns {missing}"
        )
    missing = [c for c in (id_col, score_col) if c not in docs.columns]
    if missing:
        raise ValueError(
            f"cluster_representatives: docs frame lacks columns {missing}"
        )
    j = clusters.join(docs.select(id_col, score_col), id_col)
    # one exchange: the argmax row_number and the member/total stats are
    # all window aggregates over the same cluster partition (an explicit
    # groupBy branch would re-evaluate the join and add a join-back)
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    wc = Window.partitionBy(cluster_col)
    return (
        j.select(
            cluster_col,
            F.col(id_col).alias(f"rep_{id_col}"),
            F.col(score_col).cast("bigint").alias("score_kept"),
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wc).cast("bigint").alias("n_members"),
            F.sum(F.col(score_col).cast("decimal(19,0)"))
            .over(wc)
            .alias("_total"),
        )
        .where(F.col("_rn") == 1)
        .select(
            cluster_col,
            f"rep_{id_col}",
            "n_members",
            "score_kept",
            (F.col("_total") - F.col("score_kept"))
            .cast("bigint")
            .alias("score_dropped"),
        )
    )


def dedup_corpus(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the deduplicated corpus from near-dup ``pairs``
    (id_a < id_b): greedy keep-lowest-id — every id_b of a confirmed pair
    is dropped, id_a survives.  A left-anti join on the victim set; at
    100 TB the victim frame is tiny relative to the corpus and broadcasts.

    Greedy-by-id is the standard corpus-dedup policy (transitive chains
    collapse to their minimum id because every later member pairs with an
    earlier survivor or an earlier victim whose own pair named a smaller
    id); full connected components are only needed for cluster analytics,
    not for filtering.
    """
    victims = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(F.broadcast(victims), on=id_col, how="left_anti")


def positional_gram_fps(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 16,
) -> DataFrame:
    """(id, pos, fp) rows: the md5 fingerprint of every token n-gram WITH
    its 0-based start position (unlike gram_frame, positions are kept and
    within-doc repeats are NOT deduplicated — a doc repeating its own span
    must count).  Same lead-window assembly as gram_frame (fully codegen'd,
    one exchange on the doc id); see that docstring for why this must not
    be built by exploding shingle arrays."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    tail = F.lead("tok", n - 1).over(w)
    return (
        toks.select(
            F.col(id_col),
            F.col("pos"),
            F.md5(F.concat_ws(" ", *parts)).alias("fp"),
            tail.alias("_tail"),
        )
        .filter(F.col("_tail").isNotNull())
        .drop("_tail")
    )


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 16,
    min_count: int = 2,
) -> DataFrame:
    """Exact substring-level dedup detection (the suffix-array family of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): every ``span_tokens``-token gram whose fingerprint occurs
    >= ``min_count`` times ANYWHERE in the corpus (cross-doc or within-doc)
    flags its window; overlapping/adjacent flagged windows merge into
    maximal per-doc spans (gaps-and-islands).  Returns
    (id, span_start, span_end, span_n_tokens) with token positions,
    span_end exclusive — every returned span is >= span_tokens long.

    Scale shape: positional grams are linear in corpus tokens (one
    exchange on doc id, reused by both windows); the hot-fingerprint
    census is one groupBy(fp) and the flag step a fp semi-join — no
    pairwise comparisons anywhere, unlike suffix-array construction this
    is embarrassingly shuffle-parallel.  A boilerplate fingerprint shared
    by 10^6 docs costs one census row + one semi-join probe per
    occurrence, never |occurrences|^2."""
    from pyspark.sql.window import Window

    n = span_tokens
    grams = positional_gram_fps(df, id_col, text_col, n)
    # Corpus-wide occurrence census as a count-over-fp window: ONE shuffle
    # of the gram frame (a groupBy census + semi-join back would shuffle
    # the full frame twice).
    wfp = Window.partitionBy("fp")
    flagged = (
        grams.withColumn("n_occ", F.count(F.lit(1)).over(wfp))
        .filter(F.col("n_occ") >= min_count)
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = flagged.select(
        F.col(id_col),
        F.col("pos"),
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
        .otherwise(0)
        .alias("brk"),
    )
    islands = marked.select(
        F.col(id_col),
        F.col("pos"),
        F.sum("brk").over(w).alias("island"),
    )
    return islands.groupBy(id_col, "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + n).alias("span_end"),
        (F.max("pos") + n - F.min("pos")).alias("span_n_tokens"),
    ).drop("island")


def strip_repeated_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove the flagged token ranges from each document, preserving the
    order of surviving tokens.  ``spans`` is repeated_spans' output.
    Returns the input schema with ``text_col`` replaced by the cleaned
    normalized-token join (docs with no flagged span pass through with
    their full normalized token stream).

    Shape: spans collapse to one tiny (id, [start,end) list) row per
    flagged doc (one shuffle of the span list, never the token stream),
    join back to the docs, and the removal is a single indexed
    array-filter projection over the staged token array — per-doc work is
    O(tokens * flagged_spans) with flagged_spans almost always 0 or 1.
    The earlier shape (posexplode -> anti-join -> collect_list rebuild)
    shuffled every TOKEN twice; this shuffles only doc rows (measured
    3.0 s -> ~1 s at sf0.1)."""
    clash = {"_spans", "_tk"} & set(df.columns)
    if clash:
        raise ValueError(
            f"strip_repeated_spans reserves helper columns {sorted(clash)}; "
            "rename them on the input first"
        )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("_spans")
    )
    others = [c for c in df.columns if c != text_col]
    staged = df.select(
        *others, tokens(F.col(text_col)).alias("_tk")
    ).join(per_doc, id_col, "left")
    kept = F.when(
        F.col("_spans").isNull(), F.col("_tk")
    ).otherwise(
        F.filter(
            F.col("_tk"),
            lambda t, i: ~F.exists(
                F.col("_spans"), lambda sp: (i >= sp["s"]) & (i < sp["e"])
            ),
        )
    )
    return staged.withColumn(text_col, F.concat_ws(" ", kept)).select(
        *df.columns
    )


def incremental_exact_dedup(
    incoming: DataFrame,
    reference_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup an incoming batch against an already-curated corpus: the
    production shape for a pipeline that ingests continuously and must
    not re-admit (or re-scan) what it already holds.

    ``reference_fps`` is the corpus's fingerprint INDEX — one 'fp' column
    (md5 of normalized text, as written by exact_dedup) — not the corpus
    itself: at 100 TB the index is ~16 bytes/doc and lives as its own
    parquet, so the anti-join shuffles hashes, never text.  Survivors are
    the incoming batch's lowest-id representative per fingerprint that is
    absent from the reference (two hash-shuffles on fp: the anti-join and
    the group-min; a Bloom prefilter — operators/bloom.py — can shed most
    of the anti-join's shuffle when the reference is far larger than the
    batch).
    """
    fp = F.md5(normalize_text(F.col(text_col)))
    inc = incoming.withColumn("fp", fp)
    fresh = inc.join(
        reference_fps.select("fp").distinct(), on="fp", how="left_anti"
    )
    return fresh.groupBy("fp").agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_batch_copies"),
    )


def incremental_near_dedup(
    incoming: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """NEAR-dup dedup of an incoming batch against an already-curated
    corpus — the MinHash-LSH twin of incremental_exact_dedup (q106's
    operator handles byte-identical re-ingests; this one catches
    lightly-edited re-ingests the fingerprint index can't see).

    Returns the incoming rows that survive BOTH gates:

    * cross-corpus: an incoming doc whose exact shingle Jaccard with ANY
      reference doc is >= ``threshold`` is dropped (candidates from the
      batch's band rows joined against the reference's band index on
      (band, bucket) — never all pairs);
    * within-batch: remaining near-dup pairs inside the batch drop their
      higher id (the q49 keep-lowest-id policy; a doc whose lower partner
      was itself reference-dropped still drops, since it is transitively
      near the same reference content).

    100 TB shape: the reference side is represented ONLY by its band
    index (minhash_band_buckets output, ~50 bytes x bands per doc —
    persisted parquet in production, recomputed here) plus the shingle
    arrays of candidate-hit docs; reference text is never shuffled.  The
    candidate join shuffles (band, bucket, id) rows; verification joins
    the tiny candidate list back to per-side shingle frames; cost stays
    sum over buckets of |batch bucket| x |reference bucket|, with
    ``max_bucket_size`` shedding degenerate buckets per corpus side."""
    sh_inc, sh_ref = _persist_tracked(
        "incremental_near_dedup",
        shingle_frame(incoming, id_col, text_col, shingle_n),
        shingle_frame(reference, id_col, text_col, shingle_n),
    )
    sig_inc = minhash_signatures(
        incoming, id_col, text_col, num_hashes, shingle_n, shingles=sh_inc
    )
    sig_ref = minhash_signatures(
        reference, id_col, text_col, num_hashes, shingle_n, shingles=sh_ref
    )
    b_inc = minhash_band_buckets(
        sig_inc, id_col, num_hashes, bands, max_bucket_size
    )
    b_ref = minhash_band_buckets(
        sig_ref, id_col, num_hashes, bands, max_bucket_size
    )
    cross = (
        b_inc.alias("i")
        .join(b_ref.alias("r"), ["band", "bucket"])
        .select(
            F.col(f"i.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    cross_hits = jaccard_pairs(
        incoming, cross, id_col, text_col, shingle_n,
        shingles=sh_inc, shingles_b=sh_ref,
    ).filter(F.col("jaccard") >= threshold)
    within = minhash_band_candidates(
        sig_inc, id_col, num_hashes, bands, max_bucket_size
    )
    within_hits = jaccard_pairs(
        incoming, within, id_col, text_col, shingle_n, shingles=sh_inc
    ).filter(F.col("jaccard") >= threshold)
    victims = (
        cross_hits.select(F.col("id_a").alias(id_col))
        .union(within_hits.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # No broadcast hint: victims scale with the incoming batch (a fully-
    # duplicate re-ingest makes the set batch-sized), so a forced
    # broadcast risks the driver/broadcast limit at 100 TB posture — let
    # AQE convert to broadcast when the runtime size is actually small
    # (round-5 advice; contrast dedup_corpus, whose victim set is argued
    # bounded before its hint).
    return incoming.join(victims, on=id_col, how="left_anti")


def novelty_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    shingles that appear in NO other document — the per-doc complement
    of q63's corpus-level boilerplate ranking (a high-novelty doc adds
    new content; a low-novelty doc is assembled from phrases the corpus
    already has, the soft cousin of substring dedup).

    Emits (id, n_shingles, n_novel, novelty_frac).  ``shingles``
    optionally passes a precomputed gram_frame (exploded (id, gram)
    rows) to share the posting stage.  Scale shape: the exploded
    (gram, id) posting list is the only wide data; gram
    document-frequency comes from ONE window count over gram (shingles
    are distinct per doc, so count(*) IS document frequency) and the
    per-doc rollup is one more keyed exchange — text itself never
    shuffles.  Exactly two exchanges at any corpus size.
    """
    from pyspark.sql.window import Window

    # gram_frame, not explode(shingle_frame(...).sh): the Generate-filter
    # re-inlining blow-up gram_frame documents (46 s vs 1.5 s at sf0.1)
    posts = (
        shingles
        if shingles is not None
        else gram_frame(df, id_col, text_col, shingle_n)
    )
    w = Window.partitionBy("gram")
    tagged = posts.withColumn("_df", F.count(F.lit(1)).over(w))
    return (
        tagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count_if(F.col("_df") == 1).alias("n_novel"),
        )
        .withColumn(
            "novelty_frac",
            _dre()(F.col("n_novel") / F.col("n_shingles"), 6),
        )
    )


def shingle_join_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_df: int = 20,
    shingles: DataFrame | None = None,
    max_pairs: int | None = 2_000_000,
) -> DataFrame:
    """Candidate pairs sharing at least one RARE shingle (document
    frequency <= ``max_df``) — the inverted-index set-similarity-join
    candidate scheme (the PPJoin family's filter without the prefix
    ordering).

    Why not reuse the MinHash bands: banding estimates JACCARD, so a
    short doc quoted inside a much longer one (containment ~1, jaccard
    ~0.05) almost never collides — asymmetric near-dup detection needs
    candidates keyed on shared content directly.  ``max_df`` is the
    skew/volume guard: a shingle shared by the whole corpus generates
    no candidates (it carries no signal), and candidate cost is bounded
    by sum over rare grams of df^2 <= max_df * |postings|.  Pairs
    sharing many rare shingles emit once (distinct on the pair).

    ``max_pairs`` is the OUTPUT budget (the expand_member_pairs
    precedent): replica-heavy corpora can make every gram rare-but-
    shared, so the sum-df^2 bound alone still explodes (measured: the
    synthetic sf10 upscale yields 43M candidate pairs without it).  One
    count-only df census resolves the budget; grams whose df >= cutoff
    are shed LOUDLY (the warning names the shed sizes).  When the
    budget trips, downstream oracle parity is not expected — the sf0.01
    correctness gate never trips it.  The census job runs when this
    function is CALLED, not when the returned frame executes.
    """
    from pyspark.sql.window import Window

    posts = (
        shingles
        if shingles is not None
        else gram_frame(df, id_col, text_col, shingle_n)
    )
    w = Window.partitionBy("gram")
    tagged = posts.withColumn("_df", F.count(F.lit(1)).over(w))
    rare = tagged.filter(F.col("_df") <= max_df)
    if max_pairs is not None:
        rare = _persist_tracked("shingle_join_candidates", rare)
        hist = [
            (r["n"], r["grams"])
            for r in rare.groupBy(F.col("_df").alias("n"))
            .agg(F.count_distinct("gram").alias("grams"))
            .collect()
        ]
        cutoff, total = pair_budget_cutoff(hist, max_pairs)
        if cutoff is not None:
            import warnings

            shed = [(n, g) for n, g in hist if n >= cutoff]
            warnings.warn(
                f"shingle_join_candidates: pair budget "
                f"max_pairs={max_pairs} exceeded; shedding grams with "
                f"df >= {cutoff} (df, grams): {sorted(shed)} — keeping "
                f"<= {total} candidate pairs",
                stacklevel=2,
            )
            rare = rare.filter(F.col("_df") < cutoff)
    a, b = rare.alias("ca"), rare.alias("cb")
    return (
        a.join(b, "gram")
        .filter(F.col(f"ca.{id_col}") < F.col(f"cb.{id_col}"))
        .select(
            F.col(f"ca.{id_col}").alias("id_a"),
            F.col(f"cb.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def containment_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_df: int = 20,
    threshold: float = 0.5,
    max_pairs: int | None = 2_000_000,
    cache_shingles: bool = False,
) -> DataFrame:
    """Full asymmetric-containment pipeline: rare-shingle inverted-index
    candidates -> exact containment/jaccard scores -> keep pairs whose
    GREATEST one-sided containment clears ``threshold``.

    ``cache_shingles`` persists the shingle frame (one-generation-
    tracked, the minhash_near_dups discipline) so the tokenize+shingle
    pass runs once instead of three times.  Default OFF because it
    MEASURES SLOWER on this workload (same-session back-to-back at sf1:
    10.7 s off -> 12.3 s on; sf0.1 neutral-to-worse 5.6 -> 5.8 s): the
    re-computed path is cheap string work fully inside whole-stage
    codegen, while the cache pays array materialization plus a
    cached-array explode that breaks the codegen span — recompute beats
    cache until the text column is wide enough that three tokenize
    passes dominate those costs.
    Exploding the PERSISTED frame is safe (the InMemoryRelation
    boundary stops the InferFiltersFromGenerate re-inline gram_frame
    documents); never explode an un-persisted shingle_frame.
    """
    if cache_shingles:
        sh = _persist_tracked(
            "containment_near_dups",
            shingle_frame(df, id_col, text_col, shingle_n),
        )
        posts = sh.select(F.col(id_col), F.explode("sh").alias("gram"))
    else:
        # default path: candidates re-derive via gram_frame and the
        # scorer builds its own shingle frame — no dead lineage here
        sh = None
        posts = None
    cand = shingle_join_candidates(
        df, id_col, text_col, shingle_n,
        max_df=max_df, shingles=posts, max_pairs=max_pairs,
    )
    # threshold applies INSIDE the scorer on the raw staged ratios (via
    # the exact duck_round_cutoff preimage): a filter on the rounded
    # output columns here would predicate-push the full ~10x rounding
    # expression into the pair join (measured: 20 array_intersect in the
    # join condition vs 2 raw-ratio copies)
    return containment_scores(
        df, cand, id_col, text_col, shingle_n, shingles=sh,
        min_containment=threshold,
    )


def containment_scores(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    min_containment: float | None = None,
) -> DataFrame:
    """Exact shingle CONTAINMENT for candidate pairs: |A∩B| / |A| and
    |A∩B| / |B| alongside plain Jaccard — the asymmetric similarity
    that flags quote-inclusion / partial-copy pairs Jaccard hides (a
    tweet quoted in an article: containment_a ~ 1, jaccard ~ 0).
    Same join shape as jaccard_pairs (pairs resolve against the shingle
    frame twice); shingle arrays shuffle only for candidate ids.
    Same PRECONDITION as jaccard_pairs: shingle arrays must hold
    DISTINCT elements (shingle_frame's contract) — the union size is
    derived as |A|+|B|−|A∩B|, exact only for duplicate-free sets.

    ``min_containment`` filters on the RAW staged ratios using the exact
    rounded-threshold preimage (duck_round_cutoff), equivalent row-set
    to ``greatest(containment_a, containment_b) >= t`` on the rounded
    outputs but pushdown-cheap (see containment_near_dups)."""
    sh = (
        shingles
        if shingles is not None
        else shingle_frame(df, id_col, text_col, shingle_n)
    )
    a = sh.alias("sa")
    b = sh.alias("sb")
    # The candidate rows are tiny in BYTES but heavy in per-row COMPUTE
    # (one hash-set pass over both shingle sets each), so AQE's
    # byte-based partition coalescing squeezes the scorer onto a
    # handful of tasks (measured: 4 tasks carrying the whole stage at
    # sf0.1).  Re-spread the id pairs (~16 bytes/row) across the
    # session's full parallelism before the heavy joins — width derives
    # from the cluster (defaultParallelism), not a constant, and the
    # pair count is budget-bounded upstream (max_pairs), so the extra
    # exchange stays trivially small at any corpus size.
    pairs = pairs.repartition(
        pairs.sparkSession.sparkContext.defaultParallelism
    )
    # Stage the set sizes in their own projection, then round plain
    # column arithmetic: duck_round_expr references its argument ~10x,
    # so the array ops must be bound to names first (CollapseProject
    # keeps the projections apart — see the helper's contract).  One
    # array_intersect in the plan, total (the union size derives from
    # the set identity below); evaluate_once pins it there — without the
    # barrier the min_containment filter's pushdown inlined the
    # intersect TWICE into the pair-join condition (round-13).
    staged = (
        pairs.join(a, pairs.id_a == F.col(f"sa.{id_col}"))
        .join(b, pairs.id_b == F.col(f"sb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            evaluate_once(
                F.size(F.array_intersect("sa.sh", "sb.sh"))
            ).alias("_inter"),
            F.size("sa.sh").alias("_na"),
            F.size("sb.sh").alias("_nb"),
        )
        # |A∪B| = |A| + |B| - |A∩B| for distinct shingle sets: drops the
        # second O(|A|+|B|) hash-set pass (array_union) per pair; same
        # integers, same divisions (round-12, the jaccard_pairs twin).
        .withColumn("_nu", F.col("_na") + F.col("_nb") - F.col("_inter"))
    )
    if min_containment is not None:
        from ominimo_dynamic_data_pipeline_spark.llm.similarity import (
            duck_round_cutoff,
        )

        cut = duck_round_cutoff(min_containment, 6)
        staged = staged.filter(
            F.greatest(
                F.col("_inter") / F.col("_na"),
                F.col("_inter") / F.col("_nb"),
            )
            >= F.lit(cut)
        )
    return staged.select(
        "id_a",
        "id_b",
        _dre()(F.col("_inter") / F.col("_na"), 6).alias("containment_a"),
        _dre()(F.col("_inter") / F.col("_nb"), 6).alias("containment_b"),
        _dre()(F.col("_inter") / F.col("_nu"), 6).alias("jaccard"),
    )
