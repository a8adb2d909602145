"""Declarative corpus-curation dataflow: the LLM curation operators
(lang_filter, quality_filter, exact_dedup, near_dedup) driven through the
same metadata documents as the reference operators, verified against the
direct-API composition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ominimo_dynamic_data_pipeline_spark.config import select_dataflow
from ominimo_dynamic_data_pipeline_spark.llm.dedup import (
    dedup_corpus,
    minhash_near_dups,
)
from ominimo_dynamic_data_pipeline_spark.llm.text import (
    language_id,
    normalize_text,
    quality_features,
)
from ominimo_dynamic_data_pipeline_spark.pipeline import (
    compile_dataflow,
    run_dataflow,
)


def _metadata(sf_dir: str) -> dict:
    return {
        "dataflows": [
            {
                "name": "curation",
                "sources": [
                    {
                        "name": "docs",
                        "path": f"{sf_dir}/documents.parquet",
                        "format": "PARQUET",
                    }
                ],
                "transformations": [
                    {
                        "name": "en_docs",
                        "type": "lang_filter",
                        "params": {"input": "docs", "allow": ["en"]},
                    },
                    {
                        "name": "quality_docs",
                        "type": "quality_filter",
                        "params": {
                            "input": "en_docs",
                            "min_tokens": 10,
                            "max_digit_ratio": 0.3,
                        },
                    },
                    {
                        "name": "unique_docs",
                        "type": "exact_dedup",
                        "params": {"input": "quality_docs"},
                    },
                    {
                        "name": "curated",
                        "type": "near_dedup",
                        "params": {"input": "unique_docs", "threshold": 0.5},
                    },
                ],
                "sinks": [],
            }
        ]
    }


@pytest.fixture(scope="module")
def curated(spark, sf_dir):
    flow = select_dataflow(_metadata(sf_dir), "curation")
    compiled = compile_dataflow(spark, flow)
    run_dataflow(compiled, write=False)
    return compiled.frames


def test_stage_counts_match_direct_api(spark, sf_dir, curated):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    en = language_id(docs).filter(F.col("lang_pred") == "en").drop("lang_pred")
    assert curated["en_docs"].count() == en.count()

    q = quality_features(en).filter(
        (F.col("n_tokens") >= 10) & (F.col("digit_ratio") <= 0.3)
    ).select(*docs.columns)
    assert curated["quality_docs"].count() == q.count()

    uniq_fps = q.select(
        F.md5(normalize_text(F.col("text"))).alias("fp")
    ).distinct()
    assert curated["unique_docs"].count() == uniq_fps.count()

    pairs = minhash_near_dups(curated["unique_docs"], threshold=0.5)
    expected = dedup_corpus(curated["unique_docs"], pairs)
    assert curated["curated"].count() == expected.count()


def test_curation_preserves_schema_and_drops_rows(curated):
    # every stage keeps the original document schema (signals are internal)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    for stage in ("en_docs", "quality_docs", "unique_docs", "curated"):
        assert curated[stage].columns == cols
    n = {s: curated[s].count() for s in ("en_docs", "quality_docs", "curated")}
    assert n["curated"] <= n["quality_docs"] <= n["en_docs"]
    assert n["curated"] > 0


def test_quality_filter_rejects_unknown_threshold(spark, sf_dir):
    meta = _metadata(sf_dir)
    meta["dataflows"][0]["transformations"][1]["params"]["max_entropy"] = 1.0
    with pytest.raises(ValueError, match="unknown quality_filter"):
        compile_dataflow(spark, select_dataflow(meta, "curation"))

def test_lang_filter_rejects_lang_pred_clash(spark, sf_dir):
    """A pre-existing lang_pred input column must not be silently
    overwritten and dropped (round-2 ADVICE)."""
    meta = _metadata(sf_dir)
    meta["dataflows"][0]["transformations"].insert(
        0,
        {
            "name": "docs_tagged",
            "type": "with_columns",
            "params": {
                "input": "docs",
                "columns": {"lang_pred": "'xx'"},
            },
        },
    )
    meta["dataflows"][0]["transformations"][1]["params"]["input"] = "docs_tagged"
    with pytest.raises(ValueError, match="lang_filter reserves"):
        compile_dataflow(spark, select_dataflow(meta, "curation"))


def test_quality_filter_keep_features_never_leaks_internal_prefix(
    spark, sf_dir
):
    """keep_features=True surfaces signals under public names; a signal
    whose public name clashes with an input column (documents.n_chars) is
    dropped rather than leaking a _qf_ name (round-2 ADVICE)."""
    meta = {
        "dataflows": [
            {
                "name": "qf",
                "sources": [
                    {
                        "name": "docs",
                        "path": f"{sf_dir}/documents.parquet",
                        "format": "PARQUET",
                    }
                ],
                "transformations": [
                    {
                        "name": "scored",
                        "type": "quality_filter",
                        "params": {
                            "input": "docs",
                            "min_tokens": 1,
                            "keep_features": True,
                        },
                    }
                ],
                "sinks": [],
            }
        ]
    }
    flow = select_dataflow(meta, "qf")
    compiled = compile_dataflow(spark, flow)
    run_dataflow(compiled, write=False)
    cols = compiled.frames["scored"].columns
    assert not [c for c in cols if c.startswith("_qf_")], cols
    assert "n_tokens" in cols  # public signal surfaced
    assert cols.count("n_chars") == 1  # original column untouched


def test_span_dedup_step_strips_repeated_spans(spark):
    """The declarative span_dedup step removes a planted cross-document
    repeated block while leaving unique text untouched."""
    block = " ".join(f"tok{i}" for i in range(20))
    rows = [
        (1, "alpha beta " + block + " gamma delta"),
        (2, "omega " + block + " epsilon"),
        (3, "totally unique words in this little document body"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
    meta = {
        "dataflows": [
            {
                "name": "sd",
                "sources": [],
                "transformations": [
                    {
                        "name": "cleaned",
                        "type": "span_dedup",
                        "params": {
                            "input": "docs",
                            "span_tokens": 8,
                            "min_count": 2,
                        },
                    }
                ],
                "sinks": [],
            }
        ]
    }
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    ctx = CompileContext(spark, frames={"docs": df})
    apply_transformations(ctx, meta["dataflows"][0])
    out = {r["doc_id"]: r["text"] for r in ctx.frames["cleaned"].collect()}
    assert out[1] == "alpha beta gamma delta"
    assert out[2] == "omega epsilon"
    assert out[3] == rows[2][1]


def test_incremental_dedup_step_drops_known_and_batch_dupes(spark):
    """The declarative incremental_dedup step anti-joins the batch against
    the reference corpus's fingerprints (whitespace/case-normalized), then
    keeps the lowest-id row per batch fingerprint; helper columns never
    leak.  Both reference shapes work: full corpus rows and a
    pre-computed 'fp' index frame."""
    ref = spark.createDataFrame(
        [(1, "already in the corpus"), (2, "another known doc")],
        schema="doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "Already  in the CORPUS"),  # known (normalizes equal)
            (11, "brand new document"),
            (12, "brand new document"),      # in-batch dup -> 11 survives
            (13, "second new document"),
        ],
        schema="doc_id bigint, text string",
    )
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    flow = {
        "name": "inc",
        "sources": [],
        "transformations": [
            {
                "name": "fresh",
                "type": "incremental_dedup",
                "params": {"input": "batch", "reference": "corpus"},
            }
        ],
        "sinks": [],
    }
    ctx = CompileContext(spark, frames={"batch": batch, "corpus": ref})
    apply_transformations(ctx, flow)
    out = ctx.frames["fresh"]
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 13]
    assert out.columns == ["doc_id", "text"]

    # fp-index reference shape: same verdicts from the 16-byte index
    fp_index = ref.select(
        F.md5(normalize_text(F.col("text"))).alias("fp")
    )
    ctx2 = CompileContext(spark, frames={"batch": batch, "corpus": fp_index})
    apply_transformations(ctx2, flow)
    assert sorted(r["doc_id"] for r in ctx2.frames["fresh"].collect()) == [11, 13]

    # missing reference is a hard error, not a silent full-batch pass
    with pytest.raises(ValueError, match="requires params \\['reference'\\]"):
        bad = {**flow, "transformations": [
            {"name": "fresh", "type": "incremental_dedup",
             "params": {"input": "batch"}}]}
        apply_transformations(
            CompileContext(spark, frames={"batch": batch}), bad
        )


def test_kmeans_cluster_step_attaches_deterministic_shards(spark):
    """The declarative kmeans_cluster step shards rows by the exact-integer
    k-means assignment: two planted blobs separate, every row keeps its
    full schema plus the new column, and a name clash raises."""
    rows = [
        (0, [0.0, 0.0], "a"),
        (1, [0.4, 0.4], "b"),
        (2, [0.001, 0.0], "c"),
        (3, [0.4, 0.401], "d"),
        (4, [0.0, 0.002], "e"),
    ]
    df = spark.createDataFrame(
        rows, schema="vec_id bigint, embedding array<double>, tag string"
    )
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    flow = {
        "transformations": [
            {
                "name": "sharded",
                "type": "kmeans_cluster",
                "params": {"input": "vecs", "k": 2, "iters": 2},
            }
        ]
    }
    ctx = CompileContext(spark, frames={"vecs": df})
    apply_transformations(ctx, flow)
    out = ctx.frames["sharded"]
    assert set(out.columns) == {"vec_id", "embedding", "tag", "cluster_id"}
    got = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {0: 0, 2: 0, 4: 0, 1: 1, 3: 1}

    clash_flow = {
        "transformations": [
            {
                "name": "bad",
                "type": "kmeans_cluster",
                "params": {"input": "withcol", "k": 2},
            }
        ]
    }
    ctx2 = CompileContext(
        spark, frames={"withcol": df.withColumn("cluster_id", F.lit(9))}
    )
    with pytest.raises(ValueError, match="cluster_id"):
        apply_transformations(ctx2, clash_flow)


def test_kmeans_cluster_step_rejects_null_and_duplicate_ids(spark):
    """The assignment re-attach is an equi-join on id_col, so NULL ids
    (silently dropped) and duplicate ids (fan-out) fail fast instead."""
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    flow = {
        "transformations": [
            {
                "name": "sharded",
                "type": "kmeans_cluster",
                "params": {"input": "vecs", "k": 2, "iters": 1},
            }
        ]
    }
    base = [(0, [0.0, 0.0]), (1, [0.4, 0.4]), (2, [0.5, 0.5])]
    with_null = spark.createDataFrame(
        base + [(None, [0.1, 0.1])],
        schema="vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="NULL ids"):
        apply_transformations(
            CompileContext(spark, frames={"vecs": with_null}), flow
        )

    with_dup = spark.createDataFrame(
        base + [(1, [0.3, 0.3])],
        schema="vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="duplicate ids"):
        apply_transformations(
            CompileContext(spark, frames={"vecs": with_dup}), flow
        )


def test_dataset_profiling_flow_golden(spark):
    """The round-4 dataset operators (q120-q125 shapes) driven through
    metadata: dq checks, sketch stats, gap fill, and equi-depth binning
    all compile from the example dataflow and pin to exact/contract
    values computed from the same inputs."""
    import json
    from pathlib import Path

    sf = "/root/testdata/sf0.01"
    if not Path(sf).is_dir():
        pytest.skip("sf0.01 testdata missing")
    meta = json.loads(
        (Path(__file__).parent.parent / "examples" / "dataset_profiling.json")
        .read_text()
    )
    flow = select_dataflow(meta, "dataset-profiling")
    compiled = compile_dataflow(spark, flow)
    run_dataflow(compiled, write=False)
    frames = compiled.frames

    orders = spark.read.parquet(f"{sf}/orders.parquet")
    n_orders = orders.count()

    # dq_check: every orders invariant passes, metrics are the exact values
    dq = {
        (r["check"], r["target"]): r
        for r in frames["orders_dq"].collect()
    }
    assert dq[("row_count", "*")]["metric"] == n_orders
    assert dq[("unique", "o_orderkey")]["metric"] == 0
    assert dq[("not_null", "o_custkey")]["metric"] == 0
    assert all(r["passed"] for r in dq.values())
    ref = frames["lineitem_dq"].collect()
    assert len(ref) == 1 and ref[0]["metric"] == 0 and ref[0]["passed"]

    # sketch_stats: HLL estimate within 5% of exact per-status distincts;
    # KLL quantiles within rank error of the exact percentiles
    exact = {
        r["o_orderstatus"]: r
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("d"),
            F.expr("percentile(o_totalprice, array(0.45, 0.55, 0.9, 0.99))").alias("p"),
        )
        .collect()
    }
    sk = {r["o_orderstatus"]: r for r in frames["order_sketches"].collect()}
    assert set(sk) == set(exact)
    for status, row in sk.items():
        e = exact[status]
        assert abs(row["o_custkey_distinct_est"] - e["d"]) <= 0.05 * e["d"]
        assert e["p"][0] <= row["o_totalprice_p5"] <= e["p"][1]
        assert e["p"][2] <= row["o_totalprice_p95"] <= e["p"][3]

    # gap_fill: the spine is dense per segment and interpolated days sit
    # strictly between their neighbors' values
    filled = frames["filled_revenue"]
    spans = filled.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        (F.datediff(F.max("d"), F.min("d")) + 1).alias("expect"),
        F.sum(F.col("interpolated").cast("int")).alias("n_interp"),
    ).collect()
    assert spans and all(r["n"] == r["expect"] for r in spans)
    assert sum(r["n_interp"] for r in spans) > 0  # gaps existed and filled
    assert filled.filter(F.col("revenue").isNull()).count() == 0

    # equi_depth_bin: 4 near-equal bins over a distinct-valued column
    counts = dict(
        frames["binned_orders"].groupBy("price_bin").count().collect()
    )
    assert set(counts) == {0, 1, 2, 3}
    lo, hi = min(counts.values()), max(counts.values())
    assert hi - lo <= 0.02 * n_orders  # equi-depth within percentile ties


def test_dataset_checks_unique_is_null_safe(spark):
    """NULL key components must count as their own distinct value: two
    NULLs are duplicates of each other, but NULL never collides with the
    empty string (concat_ws would silently drop it)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        dataset_checks,
    )

    df = spark.createDataFrame(
        [(None,), ("",), ("a",)], schema="k string"
    )
    out = {
        r["check"]: r
        for r in dataset_checks(df, [{"type": "unique", "cols": ["k"]}]).collect()
    }
    assert out["unique"]["metric"] == 0 and out["unique"]["passed"]

    dup_nulls = spark.createDataFrame(
        [(None,), (None,), ("a",)], schema="k string"
    )
    out2 = dataset_checks(
        dup_nulls, [{"type": "unique", "cols": ["k"]}]
    ).collect()[0]
    assert out2["metric"] == 1 and not out2["passed"]


def test_dataset_checks_ref_integrity_ignores_null_fks(spark):
    """SQL FK semantics: NULL foreign keys are not violations — only
    non-null values absent from the reference count as orphans."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        dataset_checks,
    )

    df = spark.createDataFrame(
        [(1,), (None,), (None,), (99,)], schema="fk int"
    )
    ref = spark.createDataFrame([(1,), (2,)], schema="pk int")
    row = dataset_checks(
        df,
        [{"type": "ref_integrity", "col": "fk", "reference": "dim",
          "ref_col": "pk"}],
        references={"dim": ref},
    ).collect()[0]
    assert row["metric"] == 1 and not row["passed"]  # only fk=99


def test_dataset_checks_freshness_fails_on_empty_frame(spark):
    """An empty (or all-NULL) frame is the stalest possible dataset:
    passed must be a definite False, never NULL (three-valued logic
    would hide the row from a WHERE NOT passed consumer)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        dataset_checks,
    )

    empty = spark.createDataFrame([], schema="d date")
    row = dataset_checks(
        empty,
        [{"type": "freshness", "col": "d", "as_of": "2026-01-01",
          "max_age_days": 30}],
    ).collect()[0]
    assert row["metric"] is None and row["passed"] is False


def test_sketch_profile_kept_sketches_merge_across_runs(spark):
    """keep_sketches is the cross-run story: per-shard sketches persist
    and re-union instead of rescanning. Merging the kept per-group HLL
    sketches must reproduce the global estimate the same aggregate would
    give, and the merged KLL quantile must sit near the exact one."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        sketch_profile,
    )

    df = spark.range(0, 5000).select(
        (F.col("id") % 7).alias("g"),
        (F.col("id") % 611).alias("u"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    kept = sketch_profile(
        df, group_by=["g"], distinct_cols=["u"], quantile_col="v",
        quantiles=[0.5], keep_sketches=True,
    )
    merged = kept.agg(
        F.hll_sketch_estimate(F.hll_union_agg("u_hll")).cast("bigint").alias("d"),
        F.kll_sketch_get_quantile_double(
            F.aggregate(
                F.slice(
                    F.collect_list("v_kll"), 2,
                    F.greatest(F.size(F.collect_list("v_kll")) - 1, F.lit(0)),
                ),
                F.element_at(F.collect_list("v_kll"), 1),
                lambda acc, x: F.kll_sketch_merge_double(acc, x),
            ),
            F.lit(0.5),
        ).alias("p50"),
    ).first()
    assert abs(merged["d"] - 611) <= 0.05 * 611
    exact_p50 = df.agg(F.percentile("v", F.lit(0.5))).first()[0]
    assert abs(merged["p50"] - exact_p50) <= 0.05 * 1000


def test_decontaminate_step_drop_and_flag(spark):
    """The n-gram decontamination step drops docs sharing an 8-gram with
    the reference frame; flag mode keeps all rows with counts."""
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    shared = "one two three four five six seven eight nine ten"
    ref = spark.createDataFrame(
        [(0, shared)], schema="doc_id bigint, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "prefix " + shared),                       # contaminated
            (11, "totally different words with no overlap at all here ok"),
        ],
        schema="doc_id bigint, text string",
    )
    flow = {
        "transformations": [
            {
                "name": "clean",
                "type": "decontaminate",
                "params": {"input": "batch", "reference": "evalset"},
            }
        ]
    }
    ctx = CompileContext(spark, frames={"batch": batch, "evalset": ref})
    apply_transformations(ctx, flow)
    assert [r["doc_id"] for r in ctx.frames["clean"].collect()] == [11]

    flag_flow = {
        "transformations": [
            {
                "name": "flagged",
                "type": "decontaminate",
                "params": {
                    "input": "batch",
                    "reference": "evalset",
                    "mode": "flag",
                },
            }
        ]
    }
    ctx2 = CompileContext(spark, frames={"batch": batch, "evalset": ref})
    apply_transformations(ctx2, flag_flow)
    got = {
        r["doc_id"]: r["n_contaminated_grams"]
        for r in ctx2.frames["flagged"].collect()
    }
    assert got[11] == 0 and got[10] >= 1


def test_semantic_decontaminate_step(spark):
    """The embedding-space step drops corpus vectors near any eval
    vector; flag mode attaches the cosine + verdict."""
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    ref = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])],
        schema="vec_id bigint, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (10, [0.99, 0.01, 0.0, 0.0]),   # ~same direction -> drop
            (11, [0.0, 1.0, 0.0, 0.0]),     # orthogonal -> keep
        ],
        schema="vec_id bigint, embedding array<double>",
    )
    flow = {
        "transformations": [
            {
                "name": "clean",
                "type": "semantic_decontaminate",
                "params": {
                    "input": "corpus",
                    "reference": "evalset",
                    "threshold": 0.9,
                },
            }
        ]
    }
    ctx = CompileContext(spark, frames={"corpus": corpus, "evalset": ref})
    apply_transformations(ctx, flow)
    assert [r["vec_id"] for r in ctx.frames["clean"].collect()] == [11]

    flag_flow = {
        "transformations": [
            {
                "name": "flagged",
                "type": "semantic_decontaminate",
                "params": {
                    "input": "corpus",
                    "reference": "evalset",
                    "threshold": 0.9,
                    "mode": "flag",
                },
            }
        ]
    }
    ctx2 = CompileContext(spark, frames={"corpus": corpus, "evalset": ref})
    apply_transformations(ctx2, flag_flow)
    got = {r["vec_id"]: r for r in ctx2.frames["flagged"].collect()}
    assert got[10]["contaminated"] and not got[11]["contaminated"]
    assert got[10]["max_eval_cos"] > 0.9


def test_corpus_refresh_flow_matches_direct_api(spark):
    """The corpus-refresh dataflow (decontaminate -> incremental near-dup
    vs the curated corpus) compiles from metadata and matches the direct
    API composition row for row."""
    import json
    from pathlib import Path

    sf = "/root/testdata/sf0.01"
    if not Path(sf).is_dir():
        pytest.skip("sf0.01 testdata missing")
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import (
        incremental_near_dedup,
    )
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        ngram_decontaminate,
    )

    meta = json.loads(
        (Path(__file__).parent.parent / "examples" / "corpus_curation.json")
        .read_text()
    )
    flow = select_dataflow(meta, "corpus-refresh")
    compiled = compile_dataflow(spark, flow)
    run_dataflow(compiled, write=False)
    got = {r["doc_id"] for r in compiled.frames["fresh_docs"].collect()}

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 10 < 8)
    evalset = docs.filter(F.col("doc_id") < 10)
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    hits = ngram_decontaminate(batch, evalset, n=8)
    clean = batch.join(
        F.broadcast(hits.select("doc_id")), on="doc_id", how="left_anti"
    )
    want = {
        r["doc_id"]
        for r in incremental_near_dedup(
            clean, ref, threshold=0.5, max_bucket_size=1000
        ).collect()
    }
    assert got == want and len(got) > 0


def test_mixture_rebalance_example_dataflow(spark):
    """The shipped mixture-rebalance dataflow compiles from metadata and
    boosts tail languages relative to the natural mix."""
    import json
    from pathlib import Path

    meta = json.loads(
        (Path(__file__).parent.parent / "examples" / "corpus_curation.json")
        .read_text()
    )
    flow = select_dataflow(meta, "mixture-rebalance")
    compiled = compile_dataflow(spark, flow)
    run_dataflow(compiled, write=False)
    before = {
        r["lang"]: r["count"]
        for r in compiled.frames["quality_docs"].groupBy("lang").count().collect()
    }
    after = {
        r["lang"]: r["count"]
        for r in compiled.frames["rebalanced"].groupBy("lang").count().collect()
    }
    assert sum(after.values()) > 0
    # the head language's share must shrink after rebalancing
    head = max(before, key=before.get)
    assert after[head] / sum(after.values()) < before[head] / sum(before.values())


def test_temperature_sample_step_compiles_and_guards(spark):
    """The temperature_sample dataflow step matches the direct operator
    call and fails fast on a keep_p clash or missing budget."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        temperature_mixture_sample,
    )
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, schema="doc_id bigint, lang string")
    ctx = CompileContext(spark)
    ctx.put("docs", df)
    flow = {
        "transformations": [
            {"name": "mixed", "type": "temperature_sample",
             "params": {"input": "docs", "budget": 40, "alpha": 0.5}},
        ]
    }
    frames = apply_transformations(ctx, flow)
    got = {r["doc_id"] for r in frames["mixed"].collect()}
    want = {
        r["doc_id"]
        for r in temperature_mixture_sample(
            df, group_col="lang", alpha=0.5, budget=40
        ).collect()
    }
    assert got == want and got

    ctx2 = CompileContext(spark)
    ctx2.put("docs", df)
    with pytest.raises(ValueError, match="params.budget"):
        apply_transformations(ctx2, {"transformations": [
            {"name": "m", "type": "temperature_sample",
             "params": {"input": "docs"}},
        ]})
    ctx3 = CompileContext(spark)
    ctx3.put("docs", df.withColumn("keep_p", F.lit(1.0)))
    with pytest.raises(ValueError, match="keep_p"):
        apply_transformations(ctx3, {"transformations": [
            {"name": "m", "type": "temperature_sample",
             "params": {"input": "docs", "budget": 10}},
        ]})


def test_ngram_decontaminate_eval_frame_own_id_column(spark):
    """The eval frame's id column need not share the corpus's name — a
    benchmark keyed by bench_id must work (the eval id is only a
    gram-assembly grouping key, never surfaced)."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        ngram_decontaminate,
    )

    words = " ".join(f"w{i}" for i in range(10))
    corpus = spark.createDataFrame(
        [(1, words), (2, "totally different tokens only here now")],
        schema="doc_id bigint, text string",
    )
    evalset = spark.createDataFrame(
        [("bench-7", words)], schema="bench_id string, question string"
    )
    hits = ngram_decontaminate(
        corpus, evalset, n=8,
        eval_id_col="bench_id", eval_text_col="question",
    ).collect()
    assert [r["doc_id"] for r in hits] == [1]


def test_fellegi_sunter_score_conventions(spark):
    """Agreement adds log2(m/u), disagreement log2((1-m)/(1-u)), NULL
    (missing field) adds 0; invalid probabilities fail fast."""
    import math

    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        fellegi_sunter_score,
        fs_weights,
    )

    wa, wd = fs_weights(0.8, 0.1)
    assert abs(wa - 3.0) < 1e-12 and abs(wd - math.log2(0.2 / 0.9)) < 1e-12
    with pytest.raises(ValueError, match="in \\(0, 1\\)"):
        fs_weights(1.0, 0.1)
    with pytest.raises(ValueError, match="must exceed"):
        fs_weights(0.1, 0.5)

    df = spark.createDataFrame(
        [(True, True), (True, False), (None, True)],
        schema="a boolean, b boolean",
    )
    out = df.select(
        fellegi_sunter_score(
            [(F.col("a"), 0.8, 0.1), (F.col("b"), 0.5, 0.005)]
        ).alias("s")
    ).collect()
    wa2, wd2 = fs_weights(0.5, 0.005)
    assert abs(out[0]["s"] - (wa + wa2)) < 1e-12
    assert abs(out[1]["s"] - (wa + wd2)) < 1e-12
    assert abs(out[2]["s"] - (0.0 + wa2)) < 1e-12  # NULL field -> 0


def test_train_split_and_shard_example_dataflow(spark):
    """The shipped train-split-and-shard dataflow (the round-6 curation
    chain: near-dup pair graph -> cluster-safe split -> per-source cap
    -> shard manifest) compiles, runs, and holds its invariants: no
    val/test doc shares a near-dup cluster with a train doc, no source
    exceeds its cap, shard positions are dense."""
    import json
    from pathlib import Path

    from ominimo_dynamic_data_pipeline_spark.config import select_dataflow
    from ominimo_dynamic_data_pipeline_spark.pipeline import (
        compile_dataflow,
        run_dataflow,
    )

    meta = json.loads(
        (Path(__file__).parent.parent / "examples" / "corpus_curation.json")
        .read_text()
    )
    flow = select_dataflow(meta, "train-split-and-shard")
    compiled = compile_dataflow(spark, flow)
    run_dataflow(compiled, write=False)
    split_rows = compiled.frames["with_split"].collect()
    by_cluster = {}
    for r in split_rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    manifest = compiled.frames["manifest"].collect()
    assert manifest and all(r["split"] == "train" for r in manifest)
    per_source = {}
    by_shard = {}
    for r in manifest:
        per_source[r["source"]] = per_source.get(r["source"], 0) + 1
        by_shard.setdefault(r["shard"], []).append(r["pos_in_shard"])
    assert max(per_source.values()) <= 40
    for pos in by_shard.values():
        assert sorted(pos) == list(range(1, len(pos) + 1))


def test_run_dataflow_releases_dedup_operator_caches(spark):
    """After run_dataflow returns, the dedup operators' persisted
    intermediates are released (the one-generation registry is empty) —
    a scheduled pipeline cannot leak cached partitions across runs."""
    import json
    from pathlib import Path

    from ominimo_dynamic_data_pipeline_spark.config import select_dataflow
    from ominimo_dynamic_data_pipeline_spark.llm import dedup as D
    from ominimo_dynamic_data_pipeline_spark.pipeline import (
        compile_dataflow,
        run_dataflow,
    )

    meta = json.loads(
        (Path(__file__).parent.parent / "examples" / "corpus_curation.json")
        .read_text()
    )
    flow = select_dataflow(meta, "train-split-and-shard")
    compiled = compile_dataflow(spark, flow)
    run_dataflow(compiled, write=False)
    compiled.frames["manifest"].count()
    assert D._PERSISTED == {}


def test_importance_curriculum_example_dataflow(spark):
    """The shipped importance-curriculum dataflow (DSIR weights + token
    entropy -> quality gate -> source-interleaved order) compiles, runs,
    and holds its invariants: every selected doc clears both gates,
    interleave positions are unique, and the head of the curriculum
    round-robins the surviving sources."""
    import json
    from pathlib import Path

    from ominimo_dynamic_data_pipeline_spark.config import select_dataflow
    from ominimo_dynamic_data_pipeline_spark.pipeline import (
        compile_dataflow,
        run_dataflow,
    )

    meta = json.loads(
        (Path(__file__).parent.parent / "examples" / "corpus_curation.json")
        .read_text()
    )
    flow = select_dataflow(meta, "importance-curriculum")
    compiled = compile_dataflow(spark, flow)
    run_dataflow(compiled, write=False)
    rows = compiled.frames["curriculum"].collect()
    assert rows
    assert all(r["llr"] > 0 and r["norm_entropy"] >= 0.5 for r in rows)
    positions = [r["interleave_pos"] for r in rows]
    assert len(set(positions)) == len(positions)
    sources = sorted({r["source"] for r in rows})
    head = sorted(rows, key=lambda r: r["interleave_pos"])[: len(sources)]
    assert sorted({r["source"] for r in head}) == sources


def test_corpus_quality_report_flow_golden(spark):
    """The round-6 operators (q170/q178/q180 shapes) driven through
    metadata: readability, vocab coverage, and RFM segments compile from
    the example dataflow and pin to the exact values the catalog queries
    produce from the same inputs."""
    import json
    from pathlib import Path

    sf = "/root/testdata/sf0.01"
    if not Path(sf).is_dir():
        pytest.skip("sf0.01 testdata missing")
    meta = json.loads(
        (
            Path(__file__).parent.parent
            / "examples"
            / "corpus_quality_report.json"
        ).read_text()
    )
    flow = select_dataflow(meta, "corpus-quality-report")
    compiled = compile_dataflow(spark, flow)
    run_dataflow(compiled, write=False)
    frames = compiled.frames

    # readability: identical to the catalog query modulo the extra lang
    # keep-col; spot-pin one doc against a direct recompute
    from ominimo_dynamic_data_pipeline_spark.queries.llm import (
        q170_readability_scores,
    )

    got = {r["doc_id"]: r for r in frames["doc_readability"].collect()}
    want = {r["doc_id"]: r for r in q170_readability_scores(spark, sf).collect()}
    assert set(got) == set(want)
    for did in list(want)[:25]:
        assert got[did]["flesch"] == want[did]["flesch"]
        assert got[did]["n_syllables"] == want[did]["n_syllables"]
        assert "lang" in got[did].asDict()

    # vocab coverage: equals the catalog query rows exactly
    from ominimo_dynamic_data_pipeline_spark.queries.llm import (
        q178_vocab_coverage,
    )

    cov = sorted(
        (r["k"], r["n_terms"], r["tokens_covered"], r["coverage_frac"])
        for r in frames["coverage_curve"].collect()
    )
    cov_q = sorted(
        (r["k"], r["n_terms"], r["tokens_covered"], r["coverage_frac"])
        for r in q178_vocab_coverage(spark, sf).collect()
    )
    assert cov == cov_q

    # rfm segments: marginals balanced within 1 (NTILE contract) and
    # user total preserved
    seg = frames["engagement_segments"].collect()
    n_users = (
        spark.read.parquet(f"{sf}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r["n_users"] for r in seg) == n_users
    for dim in ("r_bucket", "f_bucket", "m_bucket"):
        marg: dict = {}
        for r in seg:
            marg[r[dim]] = marg.get(r[dim], 0) + r["n_users"]
        assert set(marg) == {1, 2, 3}
        assert max(marg.values()) - min(marg.values()) <= 1


def test_round6_registry_steps_validate_params(spark):
    """The three round-6 steps fail fast with their own ValueErrors on
    bad params instead of dying inside Catalyst."""
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    docs = spark.createDataFrame([(1, "hello there.")], "doc_id bigint, text string")

    def step(tp, **params):
        return {"name": "s", "type": tp, "params": {"input": "docs", **params}}

    ctx = CompileContext(spark, frames={"docs": docs})
    with pytest.raises(ValueError, match="lacks columns"):
        apply_transformations(
            ctx, {"transformations": [step("readability", keep_cols=["nope"])]}
        )
    with pytest.raises(ValueError, match="ks must be positive ints"):
        apply_transformations(
            ctx, {"transformations": [step("vocab_coverage", ks=[0])]}
        )
    with pytest.raises(ValueError, match="requires params"):
        apply_transformations(
            ctx, {"transformations": [step("rfm_segments", user_col="u")]}
        )
    with pytest.raises(ValueError, match="n_buckets"):
        apply_transformations(
            ctx,
            {"transformations": [step(
                "rfm_segments", user_col="u", ts_col="t", value_col="v",
                n_buckets=1,
            )]},
        )


def test_engagement_report_flow_golden(spark):
    """The q185-q190 behavioral operators driven through metadata: every
    step compiles from examples/engagement_report.json and pins to the
    catalog queries' values on the same inputs (the queries delegate to
    the same operator bodies, so this closes the metadata->operator
    wiring, not just the math)."""
    import json
    from pathlib import Path

    sf = "/root/testdata/sf0.01"
    if not Path(sf).is_dir():
        pytest.skip("sf0.01 testdata missing")
    meta = json.loads(
        (Path(__file__).parent.parent / "examples" / "engagement_report.json")
        .read_text()
    )
    flow = select_dataflow(meta, "engagement-report")
    compiled = compile_dataflow(spark, flow)
    run_dataflow(compiled, write=False)
    frames = compiled.frames

    from ominimo_dynamic_data_pipeline_spark.queries.analytics import (
        q187_pareto_frontier_parts,
    )
    from ominimo_dynamic_data_pipeline_spark.queries.extensions import (
        q188_symspell_name_pairs,
    )
    from ominimo_dynamic_data_pipeline_spark.queries.windows_batch import (
        q185_window_funnel,
        q186_activity_streaks,
        q189_rolling_7d_active_users,
        q190_user_value_twap,
    )

    # funnel per-user step times aggregate to q185's level counts
    fu = frames["funnel_steps"]
    agg = fu.agg(
        F.count("step_1_us").alias("v"),
        F.count("step_2_us").alias("c"),
        F.count("step_3_us").alias("p"),
    ).collect()[0]
    q = q185_window_funnel(spark, sf).collect()[0]
    assert (agg["v"], agg["c"], agg["p"]) == (
        q["n_view"], q["n_click"], q["n_purchase"]
    )

    # streak rollup row-for-row equals q186
    got = {
        r["user_id"]: (r["n_active_days"], r["n_streaks"], r["longest_streak"])
        for r in frames["user_streaks"].collect()
    }
    want = {
        r["user_id"]: (r["n_active_days"], r["n_streaks"], r["longest_streak"])
        for r in q186_activity_streaks(spark, sf).collect()
    }
    assert got == want

    # rolling distinct curve equals q189 (step emits DATE, query formats)
    got = {
        r["day"].isoformat(): r["n_distinct"]
        for r in frames["weekly_actives"].collect()
    }
    want = {
        r["day"]: r["users_7d"]
        for r in q189_rolling_7d_active_users(spark, sf).collect()
    }
    assert got == want

    # TWAP equals q190
    got = {
        r["user_id"]: (r["n_events"], r["span_us"], r["twap"])
        for r in frames["user_exposure"].collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["span_us"], r["twap"])
        for r in q190_user_value_twap(spark, sf).collect()
    }
    assert got == want

    # frontier keys equal q187's (step keeps the quantize column; the
    # query projects it away)
    got = {
        (r["p_brand"], r["p_partkey"])
        for r in frames["price_size_frontier"].collect()
    }
    want = {
        (r["p_brand"], r["p_partkey"])
        for r in q187_pareto_frontier_parts(spark, sf).collect()
    }
    assert got == want

    # fuzzy pairs over ALL customers contain q188's segment-restricted
    # pairs (same operator, wider input domain)
    got = {
        (r["value_a"], r["value_b"], r["dist"])
        for r in frames["name_near_matches"].collect()
    }
    want = {
        (r["name_a"], r["name_b"], r["dist"])
        for r in q188_symspell_name_pairs(spark, sf).collect()
    }
    assert want <= got
    assert all(d == 1 for _, _, d in got)


def test_new_step_param_validation(spark):
    """Fail-fast contracts of the q185-q190 steps: missing params,
    non-integral skyline keys, and bad step lists all raise the
    operator-prefixed ValueError."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        pareto_frontier,
        symspell_pairs,
        twap,
        window_funnel,
    )

    ev = spark.range(3).select(
        F.col("id").alias("user_id"),
        F.current_timestamp().alias("ts"),
        F.lit("view").alias("event_type"),
        F.lit(1.5).alias("value"),
    )
    with pytest.raises(ValueError, match="window_funnel: need >= 2 steps"):
        window_funnel(ev, "user_id", "ts", "event_type", ("view",), 1)
    with pytest.raises(ValueError, match="steps must be distinct"):
        window_funnel(
            ev, "user_id", "ts", "event_type", ("view", "view"), 1
        )
    with pytest.raises(ValueError, match="horizon_us must be a positive"):
        window_funnel(
            ev, "user_id", "ts", "event_type", ("view", "click"), 0
        )
    with pytest.raises(ValueError, match="lacks columns"):
        window_funnel(
            ev, "user_id", "ts", "nope", ("view", "click"), 1
        )
    with pytest.raises(ValueError, match="must be an integral type"):
        pareto_frontier(ev, minimize_col="value", maximize_col="user_id")
    with pytest.raises(ValueError, match="max_distance must be 1 or 2"):
        symspell_pairs(ev, "event_type", max_distance=3)
    with pytest.raises(ValueError, match="value_scale must be a positive"):
        twap(ev, "user_id", "ts", "value", value_scale=0)


def test_symspell_distance_two_matches_brute_force(spark):
    """max_distance=2 (depth-2 deletion neighborhood) against the
    quadratic scan on a crafted dictionary containing substitutions,
    transpositions, double edits, and distance-3 decoys."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        symspell_pairs,
    )

    words = [
        "table", "cable", "tible", "tale", "tables", "stables",
        "ab", "ba", "abcd", "badc", "xyz", "xxyyz", "spark", "shark",
        "sprk", "park", "",
    ]
    df = spark.createDataFrame([(w,) for w in words], ["w"])

    from conftest import lev_reference as lev

    ws = sorted(set(words))
    expected = {
        (a, b, lev(a, b))
        for i, a in enumerate(ws)
        for b in ws[i + 1 :]
        if lev(a, b) <= 2
    }
    got = {
        (r["value_a"], r["value_b"], r["dist"])
        for r in symspell_pairs(df, "w", max_distance=2).collect()
    }
    assert got == expected


def test_rolling_distinct_skips_null_entities(spark):
    """COUNT(DISTINCT) semantics: a NULL entity must not count as a
    distinct member of any window (the q189 oracle's moving
    COUNT(DISTINCT) skips NULLs; a bare .distinct() would not)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        rolling_distinct,
    )

    df = spark.createDataFrame(
        [(None, "2024-01-01"), (1, "2024-01-01"), (2, "2024-01-02")],
        "user_id bigint, d string",
    ).select("user_id", F.to_timestamp("d").alias("ts"))
    got = {
        r["day"].isoformat(): r["n_distinct"]
        for r in rolling_distinct(
            df, entity_col="user_id", ts_col="ts", window_days=2
        ).collect()
    }
    assert got == {"2024-01-01": 1, "2024-01-02": 2}


def test_cluster_canonical_chain_from_metadata(spark):
    """near_dup_pairs -> dedup_clusters -> cluster_representatives as a
    pure-metadata chain, pinned to q191's catalog values."""
    sf = "/root/testdata/sf0.01"
    meta = {
        "dataflows": [
            {
                "name": "canonical-docs",
                "sources": [
                    {
                        "name": "docs",
                        "path": f"{sf}/documents.parquet",
                        "format": "PARQUET",
                    }
                ],
                "transformations": [
                    {
                        "name": "pairs",
                        "type": "near_dup_pairs",
                        "params": {"input": "docs", "threshold": 0.5},
                    },
                    {
                        "name": "clusters",
                        "type": "dedup_clusters",
                        "params": {"input": "pairs"},
                    },
                    {
                        "name": "canonical",
                        "type": "cluster_representatives",
                        "params": {
                            "input": "clusters",
                            "docs": "docs",
                            "score_col": "n_chars",
                        },
                    },
                ],
            }
        ]
    }
    flow = select_dataflow(meta, "canonical-docs")
    compiled = compile_dataflow(spark, flow)
    run_dataflow(compiled, write=False)
    from ominimo_dynamic_data_pipeline_spark.queries.llm import (
        q191_cluster_canonical_docs,
    )

    got = {
        r["cluster_id"]: (r["rep_doc_id"], r["n_members"], r["score_kept"])
        for r in compiled.frames["canonical"].collect()
    }
    want = {
        r["cluster_id"]: (r["rep_doc_id"], r["n_members"], r["score_kept"])
        for r in q191_cluster_canonical_docs(spark, sf).collect()
    }
    assert got == want

    with pytest.raises(ValueError, match="requires params \\['docs'\\]"):
        compile_dataflow(
            spark,
            {
                "name": "bad",
                "sources": flow["sources"],
                "transformations": [
                    {
                        "name": "canonical",
                        "type": "cluster_representatives",
                        "params": {"input": "docs"},
                    }
                ],
            },
        )
    with pytest.raises(ValueError, match="lacks columns"):
        compiled2 = compile_dataflow(
            spark,
            {
                "name": "bad2",
                "sources": flow["sources"],
                "transformations": [
                    {
                        "name": "clusters",
                        "type": "dedup_clusters",
                        "params": {"input": "docs"},
                    }
                ],
            },
        )
        run_dataflow(compiled2, write=False)


def test_feature_prep_steps_from_metadata(spark):
    """winsorize / time_decay_attribution / snapshot_diff as metadata
    steps, pinned to the catalog queries' values (which delegate to the
    same operator bodies), plus fail-fast params."""
    sf = "/root/testdata/sf0.01"
    meta = {
        "dataflows": [
            {
                "name": "feature-prep",
                "sources": [
                    {"name": "customer",
                     "path": f"{sf}/customer.parquet", "format": "PARQUET"},
                    {"name": "events",
                     "path": f"{sf}/events.parquet", "format": "PARQUET"},
                ],
                "transformations": [
                    {
                        "name": "robust_balances",
                        "type": "winsorize",
                        "params": {
                            "input": "customer",
                            "group_col": "c_mktsegment",
                            "value_col": "c_acctbal",
                        },
                    },
                    {
                        "name": "touch_credit",
                        "type": "time_decay_attribution",
                        "params": {
                            "input": "events",
                            "user_col": "user_id",
                            "ts_col": "ts",
                            "type_col": "event_type",
                            "value_col": "value",
                            "conversion_type": "purchase",
                            "touch_types": ["click", "view"],
                        },
                    },
                ],
            }
        ]
    }
    flow = select_dataflow(meta, "feature-prep")
    compiled = compile_dataflow(spark, flow)
    run_dataflow(compiled, write=False)
    from ominimo_dynamic_data_pipeline_spark.queries.analytics import (
        q192_time_decay_attribution,
        q193_winsorized_balances,
    )

    got = {
        r["c_mktsegment"]: (r["n_rows"], r["lo_units"], r["winsorized_mean"])
        for r in compiled.frames["robust_balances"].collect()
    }
    want = {
        r["c_mktsegment"]: (r["n_customers"], r["lo_cents"],
                            r["winsorized_mean"])
        for r in q193_winsorized_balances(spark, sf).collect()
    }
    assert got == want
    got = {
        r["touch_type"]: (r["n_touches"], r["credited_value"])
        for r in compiled.frames["touch_credit"].collect()
    }
    want = {
        r["event_type"]: (r["n_touches"], r["credited_value"])
        for r in q192_time_decay_attribution(spark, sf).collect()
    }
    assert got == want


def test_snapshot_diff_operator_generic_semantics(spark):
    """snapshot_diff classification incl. NULL-safe compare and
    added/removed keys on a crafted frame pair."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, 10, None), (2, 20, "a"), (3, 30, "b")],
        "k bigint, v bigint, s string",
    )
    new = spark.createDataFrame(
        [(2, 20, "a"), (3, 31, "b"), (4, 40, None)],
        "k bigint, v bigint, s string",
    )
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(
            old, new, key_cols=("k",), compare_cols=("v", "s")
        ).collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
    # NULL keys: with null_safe_keys a NULL-key row present on both
    # sides with a changed value is 'changed' (NULL joins as a value);
    # under default plain equality the same rows classify by side
    # ('removed' + 'added') — presence comes from literal markers,
    # never key-isNotNull
    old_nk = spark.createDataFrame(
        [(None, 1), (7, 7)], "k bigint, v bigint"
    )
    new_nk = spark.createDataFrame([(None, 2)], "k bigint, v bigint")
    got_nk = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(
            old_nk, new_nk, key_cols=("k",), compare_cols=("v",),
            null_safe_keys=True,
        ).collect()
    }
    assert got_nk == {None: "changed", 7: "removed"}
    got_default = sorted(
        ((-1 if r["k"] is None else r["k"]), r["change_type"])
        for r in snapshot_diff(
            old_nk, new_nk, key_cols=("k",), compare_cols=("v",)
        ).collect()
    )
    assert got_default == [(-1, "added"), (-1, "removed"),
                           (7, "removed")]
    with pytest.raises(ValueError, match="key_cols is empty"):
        snapshot_diff(old, new, key_cols=(), compare_cols=("v",))
    with pytest.raises(ValueError, match="lacks columns"):
        snapshot_diff(old, new, key_cols=("nope",), compare_cols=())


def test_time_decay_validation(spark):
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        time_decay_attribution,
        winsorized_stats,
    )

    ev = spark.range(3).select(
        F.col("id").alias("user_id"),
        F.current_timestamp().alias("ts"),
        F.lit("view").alias("event_type"),
        F.lit(1.0).alias("value"),
    )
    with pytest.raises(ValueError, match="horizon_days must be 1..62"):
        time_decay_attribution(
            ev, "user_id", "ts", "event_type", "value",
            "purchase", ("view",), horizon_days=63,
        )
    with pytest.raises(ValueError, match="cannot also be a touch"):
        time_decay_attribution(
            ev, "user_id", "ts", "event_type", "value",
            "view", ("view",),
        )
    with pytest.raises(ValueError, match="touch_types is empty"):
        time_decay_attribution(
            ev, "user_id", "ts", "event_type", "value", "purchase", (),
        )
    with pytest.raises(ValueError, match="0 < lower < upper <= 1"):
        winsorized_stats(ev, "user_id", "value", lower=0.9, upper=0.5)


def test_retrieval_eval_flow_matches_catalog(spark):
    """The shipped retrieval-eval dataflow (bm25_topk -> brute_force_topk
    -> rrf_fuse -> mmr_rerank, the round-6 verdict's metadata-reachable
    retrieval chain) compiles from metadata and reproduces the catalog:
    `fused` equals q155 row for row and `reranked` equals q160 run over
    the fused candidates; eval_metrics counts 5 picks per query."""
    import json
    from pathlib import Path

    sf = "/root/testdata/sf0.01"
    if not Path(sf).is_dir():
        pytest.skip("sf0.01 testdata missing")
    from ominimo_dynamic_data_pipeline_spark.llm.similarity import mmr_rerank
    from ominimo_dynamic_data_pipeline_spark.queries.llm import (
        q155_hybrid_rrf_retrieval,
    )

    meta = json.loads(
        (Path(__file__).parent.parent / "examples" / "retrieval_eval.json")
        .read_text()
    )
    flow = select_dataflow(meta, "retrieval-eval")
    compiled = compile_dataflow(spark, flow)
    run_dataflow(compiled, write=False)

    fused = {
        (r["query_id"], r["neighbor_id"], r["rrf_score"], r["fused_rank"])
        for r in compiled.frames["fused"].collect()
    }
    want_fused = {
        (r["query_id"], r["neighbor_id"], r["rrf_score"], r["fused_rank"])
        for r in q155_hybrid_rrf_retrieval(spark, sf).collect()
    }
    assert fused == want_fused and len(fused) > 0

    got_rerank = {
        (r["query_id"], r["neighbor_id"], r["mmr_score"], r["mmr_rank"])
        for r in compiled.frames["reranked"].collect()
    }
    vectors = spark.read.parquet(f"{sf}/embeddings.parquet")
    cand = compiled.frames["candidates"]
    want_rerank = {
        (r["query_id"], r["neighbor_id"], r["mmr_score"], r["mmr_rank"])
        for r in mmr_rerank(
            cand, vectors, k=5, lambda_=0.7, sim_round_to=4
        ).collect()
    }
    assert got_rerank == want_rerank
    metrics = {
        r["query_id"]: (r["picked"], r["in_dense_topk"])
        for r in compiled.frames["eval_metrics"].collect()
    }
    assert set(metrics) == {0, 1, 2}
    assert all(p == 5 and 0 <= hit <= 5 for p, hit in metrics.values())


def test_retrieval_steps_validate_params(spark):
    """The round-7 retrieval registry steps fail fast on bad params."""
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        OPERATORS,
        CompileContext,
    )

    ctx = CompileContext(spark=spark, register_views=False)
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id bigint, text string"
    )
    ctx.put("docs", docs)
    with pytest.raises(ValueError, match="exactly one of n_queries"):
        OPERATORS["bm25_topk"](
            ctx, {"name": "s", "params": {"input": "docs"}}
        )
    with pytest.raises(ValueError, match="requires params \\['queries'\\]"):
        OPERATORS["brute_force_topk"](
            ctx, {"name": "s", "params": {"input": "docs"}}
        )
    with pytest.raises(ValueError, match="requires params \\['queries', 'dim'\\]"):
        OPERATORS["lsh_topk"](
            ctx, {"name": "s", "params": {"input": "docs"}}
        )
    with pytest.raises(ValueError, match="non-empty list"):
        OPERATORS["rrf_fuse"](ctx, {"name": "s", "params": {"inputs": []}})
    with pytest.raises(ValueError, match="requires params \\['vectors'\\]"):
        OPERATORS["mmr_rerank"](
            ctx, {"name": "s", "params": {"input": "docs"}}
        )


def test_distributed_rank_registry_steps(spark):
    """distributed_row_number / distributed_ntile as metadata steps: the
    compiled frames equal the Window-based equivalents on a total order,
    and missing/empty params fail fast at compile time."""
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        OPERATORS,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [(i, float((i * 37) % 11)) for i in range(200)], "id bigint, v double"
    )
    ctx = CompileContext(spark)
    ctx.put("src", df)
    OPERATORS["distributed_row_number"](
        ctx,
        {
            "name": "ranked",
            "type": "distributed_row_number",
            "params": {
                "input": "src",
                "order_by": ["v DESC", "id"],
                "rn_col": "pos",
            },
        },
    )
    ref = df.withColumn(
        "pos",
        F.row_number()
        .over(Window.orderBy(F.desc("v"), F.asc("id")))
        .cast("bigint"),
    )
    got = sorted(tuple(r) for r in ctx.get("ranked").collect())
    want = sorted(tuple(r) for r in ref.collect())
    assert got == want

    OPERATORS["distributed_ntile"](
        ctx,
        {
            "name": "bucketed",
            "type": "distributed_ntile",
            "params": {
                "input": "src",
                "n_buckets": 4,
                "order_by": ["v", "id"],
                "out_col": "b",
            },
        },
    )
    refn = df.select(
        "*",
        F.ntile(4).over(Window.orderBy(F.asc("v"), F.asc("id"))).alias("b"),
    )
    gotn = sorted(tuple(r) for r in ctx.get("bucketed").collect())
    wantn = sorted(tuple(r) for r in refn.collect())
    assert gotn == wantn

    with pytest.raises(ValueError, match="order_by"):
        OPERATORS["distributed_row_number"](
            ctx,
            {"name": "x", "type": "distributed_row_number",
             "params": {"input": "src"}},
        )
    with pytest.raises(ValueError, match="n_buckets"):
        OPERATORS["distributed_ntile"](
            ctx,
            {"name": "x", "type": "distributed_ntile",
             "params": {"input": "src", "order_by": ["v"]}},
        )


def test_sort_step_honors_desc_and_nulls(spark):
    """Regression: F.expr('v DESC') parses as column v ALIASED 'DESC'
    (sorts ascending, silently) — the sort step must peel order keywords
    itself."""
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        OPERATORS,
    )

    df = spark.createDataFrame(
        [(1, 1.0), (2, 3.0), (3, None), (4, 2.0)], "id bigint, v double"
    )
    ctx = CompileContext(spark)
    ctx.put("src", df)
    OPERATORS["sort"](
        ctx,
        {"name": "out", "type": "sort",
         "params": {"input": "src", "by": ["v DESC NULLS LAST", "id ASC"]}},
    )
    assert [r["id"] for r in ctx.get("out").collect()] == [2, 4, 1, 3]


def _placeholder(hint):
    """A metadata value of the kind ``hint`` asks for ("f" names a frame)."""
    import typing
    from types import NoneType, UnionType

    from pyspark.sql import Column, DataFrame

    if typing.get_origin(hint) in (UnionType, typing.Union):
        hint = next(a for a in typing.get_args(hint) if a is not NoneType)
    if hint is DataFrame:
        return "f"
    if typing.get_args(hint) == (DataFrame,):
        return ["f"]
    return {int: 2, float: 0.5, bool: True, Column: "true", str: "x"}.get(
        hint, ["x"]
    )


def test_binder_defaults_match_operator_signatures(spark):
    """Every value a bound step takes by default is its operator's own
    signature default, unless BINDINGS declares the difference (with a
    reason) — so metadata defaults live in one place."""
    import inspect

    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        _UNSET,
        BINDINGS,
        CompileContext,
        Declared,
    )

    ctx = CompileContext(spark, frames={"f": spark.range(1)})
    for op, b in BINDINGS.items():
        given = {}  # exactly the keys the step must state
        for name, p in b.signature.parameters.items():
            key = b.keys[name]
            d = b.declared.get(key, Declared("none"))
            if key == "input" or d.required or (
                p.default is inspect.Parameter.empty
                and d.default is _UNSET
                and d.context is None
            ):
                given[key] = _placeholder(b.hints[name])
        kwargs = b.kwargs(ctx, {"name": op, "params": given})
        for name, p in b.signature.parameters.items():
            key = b.keys[name]
            d = b.declared.get(key)
            if key in given or (d is not None and d.context):
                continue
            if kwargs[name] != p.default:
                assert d is not None and d.reason, (
                    f"{op}.{name} defaults to {kwargs[name]!r} on the metadata "
                    f"surface but {p.default!r} in the signature, undeclared"
                )
                assert kwargs[name] == d.default, (op, name)
        for key, d in b.declared.items():
            assert d.reason, (op, key)


def test_bound_operators_have_fully_annotated_signatures():
    """The binder coerces from annotations, so every operator behind a
    binding must resolve a complete set of type hints."""
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        BINDINGS,
        OPERATORS,
    )

    for op, b in BINDINGS.items():
        assert op in OPERATORS
        unannotated = [n for n in b.signature.parameters if n not in b.hints]
        assert not unannotated, (op, b.target, unannotated)


def test_bound_step_rejects_misspelled_key(spark):
    """A misspelled scalar key is a compile-time error naming the key,
    never a silent run at the default."""
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        OPERATORS,
        CompileContext,
    )

    ctx = CompileContext(spark, register_views=False)
    ctx.put("docs", spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string"))
    with pytest.raises(ValueError, match=r"near_dup_pairs .*\['treshold'\]"):
        OPERATORS["near_dup_pairs"](
            ctx, {"name": "p", "params": {"input": "docs", "treshold": 0.9}}
        )


def test_near_dedup_step_quotes_backticked_text_column(spark):
    """Caller-supplied identifiers reach rendered SQL quoted: a text
    column named te`xt dedups exactly like one named text."""
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    plain = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "entirely different words make up this other sentence"),
        ],
        "doc_id bigint, text string",
    )

    def survivors(df, text_col):
        ctx = CompileContext(spark, frames={"docs": df}, register_views=False)
        apply_transformations(ctx, {"transformations": [
            {"name": "out", "type": "near_dedup",
             "params": {"input": "docs", "text_col": text_col}},
        ]})
        return sorted(r["doc_id"] for r in ctx.frames["out"].collect())

    want = survivors(plain, "text")
    assert want == [1, 3]
    assert survivors(plain.withColumnRenamed("text", "te`xt"), "te`xt") == want
