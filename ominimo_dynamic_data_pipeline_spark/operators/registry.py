"""Operator registry + pure compile step.

The reference interprets the transformation list with a hard-coded
if/elif dispatcher and runs stats jobs mid-interpretation
(``src/transformations.py:294-377``).  Our compiler is a registry of
builders producing ONLY lazy DataFrame plans; side-effecting work (stats,
sidecar writes) is deferred to the run phase (``pipeline.run_dataflow``).
Unknown operator type -> ValueError (same contract).

Most steps are *bound*: a step's ``params`` are the keyword arguments of
one operator function (:class:`Binding`); ``BINDINGS`` declares every
metadata-only difference with its reason.  Spark-native steps and steps
that do more than one call are small hand-written builders.  Every
output frame is also a temp view, so a ``sql`` step can read it.
"""

from __future__ import annotations

import importlib
import inspect
import typing
from collections.abc import Sequence
from dataclasses import dataclass, field
from functools import cached_property, reduce
from types import NoneType, UnionType
from typing import Any, Callable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ominimo_dynamic_data_pipeline_spark.operators import validate


@dataclass
class StatsRequest:
    """Deferred compute_stats action (run phase executes it)."""

    input_name: str
    fields: list[str] | None
    stats_name: str
    output_path: str | None
    include_validation_stats: bool
    ok_input: str | None
    ko_input: str | None
    approx: bool = False
    # "job" = dedicated single-pass aggregation; "observe" = ride along as
    # observation metrics on the sink write (zero extra scans; "job" when
    # no sink consumes the frame)
    mode: str = "job"


@dataclass
class CompileContext:
    spark: SparkSession
    frames: dict[str, DataFrame] = field(default_factory=dict)
    deferred_stats: list[StatsRequest] = field(default_factory=list)
    clock: Column | None = None  # fixed-clock override for determinism
    strict: bool = True
    register_views: bool = True

    def get(self, name: str) -> DataFrame:
        if name not in self.frames:
            raise KeyError(
                f"Input frame {name!r} not found; have {sorted(self.frames)}"
            )
        return self.frames[name]

    def put(self, name: str, df: DataFrame) -> None:
        self.frames[name] = df
        if self.register_views:
            df.createOrReplaceTempView(name)


# An operator builder consumes (ctx, step) and publishes output frames.
OpBuilder = Callable[[CompileContext, Mapping[str, Any]], None]

OPERATORS: dict[str, OpBuilder] = {}


def register_operator(name: str) -> Callable[[OpBuilder], OpBuilder]:
    def deco(fn: OpBuilder) -> OpBuilder:
        OPERATORS[name] = fn
        return fn

    return deco


def _out(step: Mapping[str, Any]) -> str:
    return step.get("params", {}).get("output", step["name"])


def _check_reserved(op: str, df: DataFrame, cols: Sequence[str], in_name: str) -> None:
    clash = sorted(set(cols) & set(df.columns))
    if clash:
        raise ValueError(
            f"{op} reserves columns {clash}; rename them on input '{in_name}' first"
        )


def _sort_expr(s: str) -> Column:
    """Parse ``"expr [ASC|DESC] [NULLS FIRST|NULLS LAST]"`` into a sort
    Column.  ``F.expr`` alone CANNOT carry sort order: Spark parses
    ``"v DESC"`` as column ``v`` ALIASED ``DESC`` and sorts ascending
    (verified on Spark 4.1) — a silent wrong-order bug this helper
    closes for every registry step that takes sort expressions."""
    t = s.strip()
    up = t.upper()
    nulls = None
    for suffix in (" NULLS FIRST", " NULLS LAST"):
        if up.endswith(suffix):
            nulls = suffix.split()[-1]
            t = t[: -len(suffix)].rstrip()
            up = t.upper()
            break
    direction = "asc"
    for suffix, d in ((" DESC", "desc"), (" ASC", "asc")):
        if up.endswith(suffix):
            direction = d
            t = t[: -len(suffix)].rstrip()
            break
    col = F.expr(t)
    method = direction if nulls is None else f"{direction}_nulls_{nulls.lower()}"
    return getattr(col, method)()


# --- the binder -----------------------------------------------------------

_UNSET = object()


@dataclass(frozen=True)
class Declared:
    """One metadata-surface difference from an operator signature, with
    its reason.  Exactly one kind applies: ``default`` replaces the
    signature default; ``required`` makes a defaulted key mandatory;
    ``param`` renames the key onto that parameter; ``context`` injects a
    CompileContext attribute; ``extra`` is read by a hand-written builder."""

    reason: str
    default: Any = _UNSET
    required: bool = False
    param: str | None = None
    context: str | None = None
    extra: bool = False


def _optional_of(hint: Any) -> Any:
    """``X`` for ``X | None`` (else None)."""
    if typing.get_origin(hint) in (UnionType, typing.Union):
        rest = [a for a in typing.get_args(hint) if a is not NoneType]
        if len(rest) == 1:
            return rest[0]
    return None


@dataclass
class Binding:
    """A metadata step derived from the signature of ``target``
    (``"<module>:<function>"`` under the package, imported on first use).
    The first ``DataFrame`` parameter reads ``params.input``.  ``reserved``
    output columns are checked on the input before the call, so metadata
    fails loudly where a direct caller would silently shadow a column."""

    op: str
    target: str
    declared: Mapping[str, Declared] = field(default_factory=dict)
    reserved: tuple[str, ...] = ()

    @cached_property
    def fn(self) -> Callable[..., Any]:
        module, name = self.target.split(":")
        return getattr(importlib.import_module(f"..{module}", __package__), name)

    @cached_property
    def hints(self) -> dict[str, Any]:
        return typing.get_type_hints(self.fn)

    @cached_property
    def signature(self) -> inspect.Signature:
        return inspect.signature(self.fn)

    @cached_property
    def keys(self) -> dict[str, str]:
        """Operator parameter -> the metadata key that feeds it."""
        renamed = {d.param: k for k, d in self.declared.items() if d.param}
        names = list(self.signature.parameters)
        first = next((n for n in names if self.hints.get(n) is DataFrame), None)
        return {n: "input" if n == first else renamed.get(n, n) for n in names}

    def kwargs(self, ctx: CompileContext, step: Mapping[str, Any]) -> dict[str, Any]:
        """The operator's full keyword arguments for ``step``."""
        params = step.get("params", {})
        allowed = {"output"}
        allowed |= {k for k, d in self.declared.items() if d.context is None}
        allowed |= {k for k in self.keys.values() if k not in self.declared}
        unknown = sorted(set(params) - allowed)
        if unknown:
            raise ValueError(
                f"{self.op} got unknown params {unknown}; it takes {sorted(allowed)}"
            )
        out: dict[str, Any] = {}
        missing = []
        for name, p in self.signature.parameters.items():
            key = self.keys[name]
            d = self.declared.get(key, Declared(""))
            if d.context:
                out[name] = getattr(ctx, d.context)
            elif key in params:
                out[name] = self._coerce(ctx, key, params[key], self.hints[name])
            elif d.default is not _UNSET:
                out[name] = d.default
            elif d.required or p.default is inspect.Parameter.empty:
                missing.append(key)
            else:
                out[name] = p.default
        if missing:
            unset = ", ".join(f"params.{k}" for k in missing)
            raise ValueError(f"{self.op} requires params {missing} ({unset} unset)")
        if self.reserved:
            first = next(n for n, k in self.keys.items() if k == "input")
            _check_reserved(self.op, out[first], self.reserved, params["input"])
        return out

    def _coerce(self, ctx: CompileContext, key: str, value: Any, hint: Any) -> Any:
        inner = _optional_of(hint)
        if inner is not None:
            if value is None:
                return None
            hint = inner
        if hint is DataFrame:
            return ctx.get(value)
        if typing.get_args(hint) == (DataFrame,):
            if not isinstance(value, (list, tuple)) or not value:
                raise ValueError(
                    f"{self.op}: {key} must be a non-empty list of frame "
                    f"names, got {value!r}"
                )
            return [ctx.get(n) for n in value]
        if hint is Column:
            return F.expr(str(value))
        if hint is tuple or typing.get_origin(hint) in (tuple, Sequence):
            if not isinstance(value, (list, tuple)):
                raise ValueError(f"{self.op}: {key} must be a list, got {value!r}")
            if typing.get_args(hint) == (Column,):  # a sort order
                return [_sort_expr(s) for s in value]
            return tuple(value)
        if hint in (int, float, bool):
            try:
                coerced = hint(value)
                # an int parameter never truncates a fractional number
                ok = hint is not int or isinstance(value, str) or coerced == value
            except (TypeError, ValueError):
                ok = False
            if not ok:
                raise ValueError(
                    f"{self.op}: {key} must be {hint.__name__}, got {value!r}"
                )
            return coerced
        return value

    def __call__(self, ctx: CompileContext, step: Mapping[str, Any]) -> Any:
        return self.fn(**self.kwargs(ctx, step))

    def step(self, ctx: CompileContext, step: Mapping[str, Any]) -> None:
        ctx.put(_out(step), self(ctx, step))


_EMPTY_LIST = Declared("an absent list means an empty one in metadata", default=())
_REFERENCE = "metadata names the eval-side frame 'reference', as incremental_dedup"
_CACHE_SHINGLES = Declared(
    "the shingle frame feeds the signatures and both verify sides; "
    "metadata runs persist it once, as the catalog queries do",
    default=True,
)
_MODE = Declared("drop (default) or flag: how the result joins back", extra=True)

BINDINGS: dict[str, Binding] = {b.op: b for b in (
    Binding("normalize_fields", "operators.normalize:normalize_fields", {
        "fields": _EMPTY_LIST,
        "auto_flatten_naming": Declared(
            "the reference dataflow's key for the naming convention",
            param="naming_convention",
        ),
    }),
    Binding("drop_columns", "operators.basic:drop_columns",
            {"columns": _EMPTY_LIST}),
    Binding("select_columns", "operators.basic:select_columns",
            {"columns": _EMPTY_LIST}),
    Binding("add_fields", "operators.basic:add_fields", {
        "fields": _EMPTY_LIST,
        "clock": Declared("the context's fixed clock keeps runs deterministic",
                          context="clock"),
    }),
    Binding("incremental_near_dedup", "llm.dedup:incremental_near_dedup", {
        "max_bucket_size": Declared("metadata batch runs shed degenerate "
                                    "(quadratic) band buckets", default=1000),
    }),
    Binding("decontaminate", "llm.sampling:ngram_decontaminate", {
        "reference": Declared(_REFERENCE, param="eval_df"),
        "reference_text_col": Declared(_REFERENCE, param="eval_text_col"),
        "reference_id_col": Declared(_REFERENCE, param="eval_id_col"),
        "mode": _MODE,
    }),
    Binding("semantic_decontaminate", "llm.similarity:semantic_decontaminate",
            {"reference": Declared(_REFERENCE, param="eval_df"), "mode": _MODE}),
    Binding("near_dedup", "llm.dedup:minhash_near_dups",
            {"cache_shingles": _CACHE_SHINGLES}),
    Binding("near_dup_pairs", "llm.dedup:minhash_near_dups",
            {"cache_shingles": _CACHE_SHINGLES}),
    Binding("lang_filter", "llm.text:language_id", {
        "allow": Declared("the language ids the filter keeps", extra=True),
        "keep_pred": Declared("keep the lang_pred column", extra=True),
    }, reserved=("lang_pred",)),
    Binding("span_dedup", "llm.dedup:repeated_spans"),
    Binding("kmeans_cluster", "llm.similarity:kmeans_exact_assignments", {
        "output_col": Declared("the attached cluster id column", extra=True),
    }),
    Binding("sketch_stats", "operators.features:sketch_profile"),
    Binding("gap_fill", "operators.features:gap_fill_linear",
            {"partition_cols": _EMPTY_LIST}),
    Binding("equi_depth_bin", "operators.features:equi_depth_bin"),
    Binding("asof_join", "operators.joins:asof_join"),
    Binding("interval_join", "operators.joins:point_in_interval_join"),
    Binding("interval_overlap_join", "operators.joins:interval_overlap_join"),
    Binding("temperature_sample", "llm.sampling:temperature_mixture_sample", {
        "budget": Declared("a metadata sample states its row budget",
                           required=True),
    }, reserved=("keep_p",)),
    Binding("group_quota_cap", "llm.sampling:group_quota_cap", {
        "cap": Declared("a metadata quota states its cap", required=True),
    }, reserved=("group_rank", "group_docs")),
    Binding("cluster_safe_split", "llm.sampling:cluster_safe_split",
            reserved=("cluster_id", "split")),
    Binding("shard_manifest", "llm.sampling:shard_manifest", {
        "n_shards": Declared("a metadata manifest states its shard count",
                             required=True),
    }, reserved=("shard", "pos_in_shard")),
    Binding("novelty_scores", "llm.dedup:novelty_scores"),
    Binding("span_corrupt", "llm.text:span_corrupt"),
    Binding("session_transcripts", "streaming.ops:session_transcripts"),
    Binding("dsir_importance", "llm.sampling:dsir_importance"),
    Binding("k_anonymity", "operators.privacy:k_anonymity", {
        "action": Declared("audit (default) or suppress", extra=True),
    }),
    Binding("token_entropy", "llm.text:token_entropy"),
    Binding("interleave_order", "llm.sampling:interleave_order",
            reserved=("rank_in_group", "interleave_pos")),
    Binding("cusum_changepoint", "operators.features:cusum_changepoint"),
    Binding("readability", "llm.text:readability_scores"),
    Binding("vocab_coverage", "llm.text:vocab_coverage"),
    Binding("rfm_segments", "operators.features:rfm_segments", {
        k: Declared("metadata names its event columns; the defaults fit only "
                    "the catalog events table", required=True)
        for k in ("user_col", "ts_col", "value_col")
    }),
    Binding("window_funnel", "operators.features:window_funnel", {
        "horizon_days": Declared("the metadata horizon unit (default 7); "
                                 "horizon_us wins when both are set", extra=True),
    }),
    Binding("activity_streaks", "operators.features:activity_streaks"),
    Binding("pareto_frontier", "operators.features:pareto_frontier"),
    Binding("fuzzy_pairs", "operators.features:symspell_pairs"),
    Binding("rolling_distinct", "operators.features:rolling_distinct"),
    Binding("twap", "operators.features:twap"),
    Binding("dedup_clusters", "llm.dedup:dedup_clusters"),
    Binding("cluster_representatives", "llm.dedup:cluster_representatives"),
    Binding("time_decay_attribution", "operators.features:time_decay_attribution"),
    Binding("winsorize", "operators.features:winsorized_stats"),
    Binding("snapshot_diff", "operators.features:snapshot_diff",
            {"compare_cols": _EMPTY_LIST}),
    Binding("bm25_topk", "llm.similarity:bm25_topk"),
    Binding("brute_force_topk", "llm.similarity:brute_force_topk"),
    Binding("lsh_topk", "llm.similarity:lsh_topk"),
    Binding("rrf_fuse", "llm.similarity:rrf_fuse", {
        "inputs": Declared("frame lists are named inputs, as in union",
                           param="rankings"),
    }),
    Binding("mmr_rerank", "llm.similarity:mmr_rerank", {
        "lambda": Declared("lambda is a Python keyword", param="lambda_"),
    }),
    Binding("distributed_row_number", "operators.scale:distributed_row_number"),
    Binding("distributed_ntile", "operators.scale:distributed_ntile"),
)}


# --- hand-written builders: Spark-native steps, and ops that do more than
# --- one call (these bind their operator's params through BINDINGS)


@register_operator("validate_fields")
def _op_validate(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    params = step.get("params", {})
    result = validate.apply_validations(
        ctx.get(params["input"]), params.get("validations", []), strict=ctx.strict
    )
    ctx.put(params.get("ok_output", f"{step['name']}_ok"), result.ok)
    ctx.put(params.get("ko_output", f"{step['name']}_ko"), result.ko)


@register_operator("compute_stats")
def _op_compute_stats(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Passthrough node; the aggregation is deferred to the run phase."""
    params = step.get("params", {})
    mode = params.get("mode", "job")
    if mode not in ("job", "observe"):
        raise ValueError(f"compute_stats mode must be 'job' or 'observe', got {mode!r}")
    ctx.deferred_stats.append(
        StatsRequest(
            input_name=params["input"],
            fields=params.get("fields"),
            stats_name=params.get("name", step["name"]),
            output_path=params.get("output_path"),
            include_validation_stats=params.get("include_validation_stats", False),
            ok_input=params.get("ok_input"),
            ko_input=params.get("ko_input"),
            approx=params.get("approx", False),
            mode=mode,
        )
    )
    ctx.put(step["name"], ctx.get(params["input"]))


def _join(ctx: CompileContext, p: Mapping[str, Any]) -> DataFrame:
    right = ctx.get(p["right"])
    if p.get("broadcast_right"):
        right = F.broadcast(right)
    on: Any = p.get("on")
    if isinstance(on, str) and p.get("on_is_expr"):
        on = F.expr(on)
    return ctx.get(p["left"]).join(right, on=on, how=p.get("how", "inner"))


def _aggregate(ctx: CompileContext, p: Mapping[str, Any]) -> DataFrame:
    df = ctx.get(p["input"])
    keys = [F.expr(k) for k in p.get("group_by", [])]
    aggs = [F.expr(e).alias(name) for name, e in p.get("aggregates", {}).items()]
    return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)


def _repartition(ctx: CompileContext, p: Mapping[str, Any]) -> DataFrame:
    """Pre-shuffle on join/agg keys so downstream wide ops reuse it."""
    df = ctx.get(p["input"])
    cols = [F.col(c) for c in p.get("columns", [])]
    n = p.get("num_partitions")
    if n and cols:
        return df.repartition(int(n), *cols)
    return df.repartition(*cols) if cols else df.repartition(int(n))


# Spark-native steps: (ctx, params) -> the output frame
_NATIVE: dict[str, Callable[[CompileContext, Mapping[str, Any]], DataFrame]] = {
    "filter": lambda ctx, p: ctx.get(p["input"]).filter(F.expr(p["condition"])),
    "with_columns": lambda ctx, p: ctx.get(p["input"]).withColumns(
        {name: F.expr(e) for name, e in p.get("columns", {}).items()}
    ),
    # ``args`` are Spark named parameters (``:name``): values bind as parser
    # literals, never spliced SQL text (injection-safe, plan cacheable)
    "sql": lambda ctx, p: ctx.spark.sql(p["query"], args=p.get("args") or None),
    "join": _join,
    "aggregate": _aggregate,
    "dedup": lambda ctx, p: (
        ctx.get(p["input"]).dropDuplicates(p["columns"])
        if p.get("columns")
        else ctx.get(p["input"]).distinct()
    ),
    # ``by``: sort specs, each "expr [ASC|DESC] [NULLS FIRST|LAST]"
    "sort": lambda ctx, p: ctx.get(p["input"]).orderBy(
        *[_sort_expr(c) for c in p.get("by", [])]
    ),
    "limit": lambda ctx, p: ctx.get(p["input"]).limit(int(p["n"])),
    "union": lambda ctx, p: reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=p.get("allow_missing", False)),
        [ctx.get(n) for n in p["inputs"]],
    ),
    "repartition": _repartition,
}


@register_operator("lang_filter")
def _op_lang_filter(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Keep documents whose heuristic language ID is in ``allow``."""
    params = step.get("params", {})
    allow = params["allow"]
    out = BINDINGS["lang_filter"](ctx, step).filter(F.col("lang_pred").isin(*allow))
    if not params.get("keep_pred", False):
        out = out.drop("lang_pred")
    ctx.put(_out(step), out)


# quality_filter threshold key -> (quality_features signal, is lower bound)
_QUALITY_BOUNDS = {
    "min_tokens": ("n_tokens", True),
    "max_tokens": ("n_tokens", False),
    "min_avg_token_len": ("avg_token_len", True),
    "max_avg_token_len": ("avg_token_len", False),
    "max_punct_ratio": ("punct_ratio", False),
    "max_digit_ratio": ("digit_ratio", False),
    "min_stopword_ratio": ("stopword_ratio", True),
}


@register_operator("quality_filter")
def _op_quality_filter(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Gate documents on optional corpus-quality thresholds (one
    projection + filter; no shuffle).  Signals are computed under an
    internal ``_qf_`` prefix so an input column sharing a signal name
    (documents already has n_chars) passes through untouched."""
    from ominimo_dynamic_data_pipeline_spark.llm.text import quality_features

    params = step.get("params", {})
    known = {*_QUALITY_BOUNDS, "input", "output", "text_col", "keep_features"}
    unknown = set(params) - known
    if unknown:
        raise ValueError(f"unknown quality_filter thresholds: {sorted(unknown)}")
    df = ctx.get(params["input"])
    featured = quality_features(df, params.get("text_col", "text"), prefix="_qf_")
    cond = F.lit(True)
    for key, (signal, lower) in _QUALITY_BOUNDS.items():
        if params.get(key) is not None:
            col, bound = F.col(f"_qf_{signal}"), F.lit(params[key])
            cond = cond & (col >= bound if lower else col <= bound)
    out = featured.filter(cond)
    if params.get("keep_features", False):
        # surface signals under their public names unless an input column
        # holds the name (then drop them: _qf_ names never leak)
        for col in out.columns:
            if col.startswith("_qf_"):
                if col[4:] not in df.columns:
                    out = out.withColumnRenamed(col, col[4:])
                else:
                    out = out.drop(col)
    else:
        out = out.select(*df.columns)
    ctx.put(_out(step), out)


def _fingerprint_dedup(
    ctx: CompileContext, step: Mapping[str, Any], op: str, reference: bool
) -> None:
    """exact_dedup / incremental_dedup: keep the lowest-id row per
    normalized-text md5 fingerprint (ONE shuffle, window row_number pick;
    survivors keep their full row, unlike llm.dedup.exact_dedup's (fp, id)
    summary).  incremental_dedup first drops fingerprints already in the
    curated ``reference`` frame: its 'fp' index column, or fps re-derived
    from ``reference_text_col``."""
    from pyspark.sql.window import Window

    from ominimo_dynamic_data_pipeline_spark.llm.text import normalize_text

    params = step.get("params", {})
    if reference and not params.get("reference"):
        raise ValueError(f"{op} requires params ['reference'] (params.reference unset)")
    in_name = params["input"]
    id_col = params.get("id_col", "doc_id")
    text_col = params.get("text_col", "text")
    df = ctx.get(in_name)
    ref = ctx.get(params["reference"]) if reference else None
    _check_reserved(op, df, ("_dedup_fp", "_dedup_rn"), in_name)
    out = df.withColumn("_dedup_fp", F.md5(normalize_text(F.col(text_col))))
    if ref is not None:
        if "fp" in ref.columns:
            ref_fps = ref.select(F.col("fp").alias("_dedup_fp"))
        else:
            ref_text = F.col(params.get("reference_text_col", text_col))
            ref_fps = ref.select(F.md5(normalize_text(ref_text)).alias("_dedup_fp"))
        out = out.join(ref_fps.distinct(), on="_dedup_fp", how="left_anti")
    w = Window.partitionBy("_dedup_fp").orderBy(id_col)
    out = (
        out.withColumn("_dedup_rn", F.row_number().over(w))
        .filter(F.col("_dedup_rn") == 1)
        .drop("_dedup_fp", "_dedup_rn")
    )
    ctx.put(_out(step), out)


register_operator("exact_dedup")(
    lambda ctx, step: _fingerprint_dedup(ctx, step, "exact_dedup", reference=False)
)
register_operator("incremental_dedup")(
    lambda ctx, step: _fingerprint_dedup(ctx, step, "incremental_dedup", reference=True)
)


@register_operator("decontaminate")
def _op_decontaminate(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Drop (default) or, with ``mode: "flag"``, flag input docs sharing
    a token n-gram with the REFERENCE eval frame (q56's operator); flag
    mode attaches n_contaminated_grams (0 for clean)."""
    params = step.get("params", {})
    kw = BINDINGS["decontaminate"].kwargs(ctx, step)
    df, id_col = kw["df"], kw["id_col"]
    hits = BINDINGS["decontaminate"].fn(**kw)
    if params.get("mode", "drop") == "flag":
        _check_reserved("decontaminate flag mode", df, ("n_contaminated_grams",),
                        params["input"])
        out = df.join(F.broadcast(hits), on=id_col, how="left").fillna(
            0, subset=["n_contaminated_grams"]
        )
    else:
        out = df.join(F.broadcast(hits.select(id_col)), on=id_col, how="left_anti")
    ctx.put(_out(step), out)


@register_operator("semantic_decontaminate")
def _op_semantic_decontaminate(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Drop (default) or flag input rows whose max cosine against the
    REFERENCE eval embeddings reaches ``threshold`` (q129's operator);
    only the small victim/flag frame joins back."""
    params = step.get("params", {})
    kw = BINDINGS["semantic_decontaminate"].kwargs(ctx, step)
    df, id_col = kw["corpus"], kw["id_col"]
    flags = BINDINGS["semantic_decontaminate"].fn(**kw)
    if params.get("mode", "drop") == "flag":
        _check_reserved("semantic_decontaminate flag mode", df,
                        ("max_eval_cos", "contaminated"), params["input"])
        out = df.join(flags, on=id_col, how="left")
    else:
        victims = flags.filter(F.col("contaminated")).select(id_col)
        out = df.join(F.broadcast(victims), on=id_col, how="left_anti")
    ctx.put(_out(step), out)


@register_operator("near_dedup")
def _op_near_dedup(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """MinHash-LSH near-dup pairs, then a keep-lowest-id victim drop."""
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import dedup_corpus

    kw = BINDINGS["near_dedup"].kwargs(ctx, step)
    pairs = BINDINGS["near_dedup"].fn(**kw)
    ctx.put(_out(step), dedup_corpus(kw["df"], pairs, kw["id_col"]))


@register_operator("span_dedup")
def _op_span_dedup(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Remove every repeated span (q90/q93); text becomes the token stream."""
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import strip_repeated_spans

    kw = BINDINGS["span_dedup"].kwargs(ctx, step)
    spans = BINDINGS["span_dedup"].fn(**kw)
    out = strip_repeated_spans(kw["df"], spans, kw["id_col"], kw["text_col"])
    ctx.put(_out(step), out)


@register_operator("kmeans_cluster")
def _op_kmeans_cluster(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Attach an exact-integer k-means cluster id to every row (the q111
    operator).  Assignments re-attach by an equi-join on ``id_col``, so
    ids must be unique and non-null: checked eagerly with one narrow agg
    (the trainer is eager already, so this adds no laziness break)."""
    params = step.get("params", {})
    in_name = params["input"]
    kw = BINDINGS["kmeans_cluster"].kwargs(ctx, step)
    df, id_col = kw["df"], kw["id_col"]
    out_col = params.get("output_col", "cluster_id")
    if out_col in df.columns:
        raise ValueError(
            f"kmeans_cluster output column {out_col!r} already exists on "
            f"input '{in_name}'"
        )
    idstats = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(id_col).alias("n_nonnull"),
        F.countDistinct(id_col).alias("n_distinct"),
    ).first()
    n_rows, n_nonnull, n_distinct = idstats
    for bad, what, effect in ((n_rows - n_nonnull, "NULL ids", "drop them"),
                              (n_nonnull - n_distinct, "duplicate ids", "fan out")):
        if bad:
            raise ValueError(
                f"kmeans_cluster id_col {id_col!r} has {bad} {what} on input "
                f"'{in_name}'; the assignment re-attach join would {effect}"
            )
    assigned = BINDINGS["kmeans_cluster"].fn(**kw).select(
        id_col, F.col("cluster_id").alias(out_col)
    )
    ctx.put(_out(step), df.join(assigned, on=id_col))


@register_operator("dq_check")
def _op_dq_check(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Dataset-level data-quality checks (the q123 operator) as one
    ``(check, target, metric, passed)`` frame; ``on_violation: "error"``
    (default ``"report"``) collects eagerly and raises on failures."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import dataset_checks

    params = step.get("params", {})
    in_name = params["input"]
    checks = params.get("checks") or []
    if not checks:
        raise ValueError("dq_check requires params.checks")
    refs = {
        ch["reference"]: ctx.get(ch["reference"])
        for ch in checks
        if ch.get("type") == "ref_integrity" and "reference" in ch
    }
    result = dataset_checks(ctx.get(in_name), checks, references=refs)
    if params.get("on_violation", "report") == "error":
        failed = [r for r in result.collect() if not r["passed"]]
        if failed:
            detail = "; ".join(
                f"{r['check']}({r['target']})={r['metric']}" for r in failed
            )
            raise ValueError(
                f"dq_check on '{in_name}' failed {len(failed)} check(s): {detail}"
            )
    ctx.put(_out(step), result)


@register_operator("normalize_unicode")
def _op_normalize_unicode(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Unicode-normalize the text ``columns`` (required) to ``form`` (NFC
    default) before hashing/dedup/tokenization."""
    from ominimo_dynamic_data_pipeline_spark.llm.text import unicode_normalize

    params = step.get("params", {})
    cols = params.get("columns")
    if not cols:
        raise ValueError("normalize_unicode requires params.columns")
    df = ctx.get(params["input"])
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"normalize_unicode: unknown columns {missing}")
    for c in cols:
        df = df.withColumn(c, unicode_normalize(F.col(c), params.get("form", "NFC")))
    ctx.put(_out(step), df)


@register_operator("k_anonymity")
def _op_k_anonymity(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Privacy gate (the q156 operators): ``action`` ``audit`` (default)
    gives per-class k-anonymity / l-diversity rows, ``suppress`` NULLs the
    quasi columns of rows in classes below k."""
    from ominimo_dynamic_data_pipeline_spark.operators import privacy

    action = step.get("params", {}).get("action", "audit")
    kw = BINDINGS["k_anonymity"].kwargs(ctx, step)
    if action == "audit":
        out = BINDINGS["k_anonymity"].fn(**kw)
    elif action == "suppress":
        if kw.pop("sensitive_col"):
            raise ValueError(
                "k_anonymity: sensitive_col only applies to action="
                "'audit' — suppression ignores it, so passing it is "
                "almost certainly a misconfiguration"
            )
        out = privacy.suppress_small_classes(**kw)
    else:
        raise ValueError(f"k_anonymity: unknown action {action!r} (audit|suppress)")
    ctx.put(_out(step), out)


@register_operator("window_funnel")
def _op_window_funnel(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Greedy-earliest N-step funnel (the q185 operator), horizon in
    ``horizon_days`` (default 7) or ``horizon_us``.  Replay through this
    step when events reach the streaming twin (q201) out of order."""
    params = step.get("params", {})
    if "horizon_us" not in params:
        days = params.get("horizon_days", 7)
        if not isinstance(days, int) or days <= 0:
            raise ValueError(
                f"window_funnel: horizon_days must be a positive int, got {days!r}"
            )
        params = {**params, "horizon_us": days * 86_400_000_000}
    ctx.put(_out(step), BINDINGS["window_funnel"](ctx, {**step, "params": params}))


@register_operator("distributed_row_number")
def _op_distributed_row_number(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Exact global row_number without a single-partition window
    (operators/scale.distributed_row_number); keeps the ranked frame,
    not the row total."""
    ranked, _total = BINDINGS["distributed_row_number"](ctx, step)
    ctx.put(_out(step), ranked)


def _native_step(build: Callable[..., DataFrame]) -> OpBuilder:
    return lambda ctx, step: ctx.put(_out(step), build(ctx, step.get("params", {})))


for _op, _build in _NATIVE.items():
    OPERATORS[_op] = _native_step(_build)
# every other binding is a step of its own
for _op, _binding in BINDINGS.items():
    OPERATORS.setdefault(_op, _binding.step)


def apply_transformations(
    ctx: CompileContext, dataflow: Mapping[str, Any]
) -> dict[str, DataFrame]:
    """Walk the declared transformation chain, building lazy plans only."""
    for step in dataflow.get("transformations", []) or []:
        op = OPERATORS.get(step.get("type"))
        if op is None:
            raise ValueError(f"Unsupported transformation type: {step.get('type')!r}")
        op(ctx, step)
    return ctx.frames
