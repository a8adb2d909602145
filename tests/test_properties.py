"""Property-based validator invariants (SURVEY.md §5.4): for arbitrary
records, ok ∪ ko == input, ok ∩ ko == ∅, every KO row carries >= 1 error,
and every error label corresponds to a check that genuinely fails on that
row.  One hypothesis example = one batch of rows = one Spark job, so the
suite stays fast."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F
from hypothesis import strategies as st

from ominimo_dynamic_data_pipeline_spark.functions.duck_numeric import (
    duck_round,
    duck_round_cutoff,
    duck_round_expr,
)
from ominimo_dynamic_data_pipeline_spark.operators.validate import apply_validations

RULES = [
    {"field": "age", "validations": ["notNull", "isNumeric", "min:18", "max:100"]},
    {"field": "plate", "validations": ["notEmpty", "pattern:^[A-Z]{3}-\\d{3}$"]},
    {"field": "start", "validations": ["isDate", "dateBefore:end"]},
]

_age = st.one_of(
    st.none(),
    st.integers(-5, 130).map(str),
    st.sampled_from(["", "abc", "42.5", " 29", "1e2"]),
)
_plate = st.one_of(
    st.none(), st.sampled_from(["", "ABC-123", "XYZ-999", "bad-1", "AB-12"])
)
_date = st.one_of(
    st.none(),
    st.sampled_from(
        ["2024-01-01", "2025-06-30", "not-a-date", "2024-13-45", ""]
    ),
)
_row = st.tuples(_age, _plate, _date, _date)


def _fails(field_value, check, row):
    """Python re-implementation of the null-permissive semantics."""
    v = field_value

    def num(x):
        try:
            return float(x)
        except (TypeError, ValueError):
            return None

    def date_ok(x):
        import datetime

        try:
            datetime.datetime.strptime(x, "%Y-%m-%d")
            return True
        except (TypeError, ValueError):
            return False

    if check == "notNull":
        return v is None
    if check == "notEmpty":
        return v is None or v == ""
    if check == "isNumeric":
        return v is None or num(v) is None
    if check.startswith("min:"):
        n = num(v)
        return v is not None and (n is None or n < float(check[4:]))
    if check.startswith("max:"):
        n = num(v)
        return v is not None and (n is None or n > float(check[4:]))
    if check.startswith("pattern:"):
        import re

        return v is not None and not re.search(check[8:], v)
    if check == "isDate":
        return v is not None and not date_ok(v)
    if check.startswith("dateBefore:"):
        other = row[3]
        if v is None or other is None:
            return False
        if not date_ok(v) or not date_ok(other):
            return True
        return v > other
    raise AssertionError(check)


LABEL_TO_CHECK = {
    "age:must_not_be_null": ("age", "notNull"),
    "age:must_be_numeric": ("age", "isNumeric"),
    "age:must_be_at_least_18.0": ("age", "min:18"),
    "age:must_be_at_most_100.0": ("age", "max:100"),
    "plate:must_be_non_empty": ("plate", "notEmpty"),
    "plate:must_match_pattern": ("plate", "pattern:^[A-Z]{3}-\\d{3}$"),
    "start:must_be_valid_date": ("start", "isDate"),
    "start:must_be_before_end": ("start", "dateBefore:end"),
}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(st.lists(_row, min_size=1, max_size=40))
def test_validator_invariants(spark, rows):
    data = [(i, a, p, s, e) for i, (a, p, s, e) in enumerate(rows)]
    df = spark.createDataFrame(
        data, schema="rid bigint, age string, plate string, start string, end string"
    )
    result = apply_validations(df, RULES)
    ok = result.ok.select("rid").collect()
    ko = result.ko.select("rid", "validation_errors").collect()
    ok_ids = {r["rid"] for r in ok}
    ko_ids = {r["rid"] for r in ko}
    # partition invariants
    assert ok_ids | ko_ids == set(range(len(rows)))
    assert ok_ids & ko_ids == set()
    # every KO row has >= 1 error and each label genuinely fails in Python
    for r in ko:
        assert len(r["validation_errors"]) >= 1
        row = rows[r["rid"]]
        values = {"age": row[0], "plate": row[1], "start": row[2], "end": row[3]}
        for label in r["validation_errors"]:
            field, check = LABEL_TO_CHECK[label]
            assert _fails(values[field], check, row), (label, row)
    # every OK row fails no check
    for rid in ok_ids:
        row = rows[rid]
        values = {"age": row[0], "plate": row[1], "start": row[2], "end": row[3]}
        for label, (field, check) in LABEL_TO_CHECK.items():
            assert not _fails(values[field], check, row), (label, row)


# --- curation-operator invariants ------------------------------------------

_doc_text = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "x1", "y2"]),
    min_size=0,
    max_size=12,
).map(" ".join)


@given(st.lists(_doc_text, min_size=1, max_size=20))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exact_dedup_keeps_one_lowest_id_per_text(spark, texts):
    from pyspark.sql import functions as F

    from ominimo_dynamic_data_pipeline_spark.llm.text import normalize_text
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ctx = CompileContext(spark=spark, register_views=False)
    ctx.put("docs", df)
    apply_transformations(
        ctx,
        {
            "transformations": [
                {
                    "name": "out",
                    "type": "exact_dedup",
                    "params": {"input": "docs"},
                }
            ]
        },
    )
    out = ctx.get("out").collect()

    # survivors ⊆ input rows, unchanged
    rows = {(r["doc_id"], r["text"]) for r in out}
    assert rows <= {(i, t) for i, t in enumerate(texts)}
    # one survivor per normalized text, and it is the LOWEST id
    norms = df.select(
        "doc_id", normalize_text(F.col("text")).alias("n")
    ).collect()
    expected = {}
    for r in norms:
        if r["n"] not in expected or r["doc_id"] < expected[r["n"]]:
            expected[r["n"]] = r["doc_id"]
    assert sorted(r["doc_id"] for r in out) == sorted(expected.values())


@given(st.lists(_doc_text, min_size=1, max_size=15))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_near_dedup_output_is_subset_and_pairfree(spark, texts):
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import minhash_near_dups
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ctx = CompileContext(spark=spark, register_views=False)
    ctx.put("docs", df)
    apply_transformations(
        ctx,
        {
            "transformations": [
                {
                    "name": "out",
                    "type": "near_dedup",
                    "params": {"input": "docs", "threshold": 0.5},
                }
            ]
        },
    )
    out_ids = {r["doc_id"] for r in ctx.get("out").select("doc_id").collect()}
    in_ids = set(range(len(texts)))
    assert out_ids <= in_ids
    # every dropped id appears as the id_b of some confirmed pair, and
    # every confirmed pair lost its id_b
    pairs = minhash_near_dups(df, threshold=0.5).collect()
    victims = {r["id_b"] for r in pairs}
    assert in_ids - out_ids == victims


# --- repeated-span invariants (the q90/q93 substring-dedup family) --------

_word = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_doc = st.lists(_word, min_size=0, max_size=24).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=6)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_corpus)
def test_repeated_span_invariants(spark, docs):
    """For arbitrary small corpora over a tiny vocabulary (maximizing
    collisions): every span is >= n tokens, within the doc's token range,
    spans never overlap within a doc, every flagged n-gram really occurs
    >= 2 times in the corpus, and stripping leaves no flagged position."""
    from ominimo_dynamic_data_pipeline_spark.llm import dedup as D
    from ominimo_dynamic_data_pipeline_spark.llm.text import tokens as tok_col

    n = 3
    df = spark.createDataFrame(
        list(enumerate(docs)), schema="doc_id bigint, text string"
    )
    toks = {
        r["doc_id"]: r["tk"]
        for r in df.select(
            "doc_id", tok_col(F.col("text")).alias("tk")
        ).collect()
    }
    spans = D.repeated_spans(df, span_tokens=n, min_count=2).collect()

    # corpus-wide n-gram occurrence counts (positional, self-repeats count)
    from collections import Counter

    grams = Counter()
    for tk in toks.values():
        for i in range(len(tk) - n + 1):
            grams[tuple(tk[i : i + n])] += 1

    by_doc: dict[int, list[tuple[int, int]]] = {}
    for r in spans:
        d, s, e = r["doc_id"], r["span_start"], r["span_end"]
        assert r["span_n_tokens"] == e - s >= n
        assert 0 <= s < e <= len(toks[d])
        by_doc.setdefault(d, []).append((s, e))
        # every n-gram window inside the span that is flagged must exist;
        # at minimum the first window must be a >=2-occurrence gram
        assert grams[tuple(toks[d][s : s + n])] >= 2
    for d, ss in by_doc.items():
        ss.sort()
        for (s1, e1), (s2, e2) in zip(ss, ss[1:]):
            assert e1 < s2  # non-overlapping, non-adjacent (maximal merge)

    stripped = {
        r["doc_id"]: r["text"]
        for r in D.strip_repeated_spans(df, D.repeated_spans(
            df, span_tokens=n, min_count=2
        )).collect()
    }
    for d, tk in toks.items():
        flagged = set()
        for s, e in by_doc.get(d, []):
            flagged.update(range(s, e))
        expect = " ".join(t for i, t in enumerate(tk) if i not in flagged)
        assert stripped[d] == expect


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.lists(
        st.integers(0, 10_000), min_size=2, max_size=40, unique=True
    )
)
def test_incremental_dedup_invariants(spark, ids):
    """For arbitrary id sets split into reference/batch with planted
    text collisions: no survivor's fingerprint exists in the reference,
    exactly one survivor (the lowest id) per batch fingerprint, and
    reference ∪ survivors has no duplicate fingerprints."""
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import (
        incremental_exact_dedup,
        normalize_text,
    )

    # text derived from id % 5 -> heavy collisions within and across sides
    rows = [(i, f"text number {i % 5} body") for i in sorted(ids)]
    half = len(rows) // 2
    ref = spark.createDataFrame(rows[:half], schema="doc_id bigint, text string")
    batch = spark.createDataFrame(rows[half:], schema="doc_id bigint, text string")
    ref_fps = ref.select(
        F.md5(normalize_text(F.col("text"))).alias("fp")
    )
    out = incremental_exact_dedup(batch, ref_fps).collect()
    ref_fp_set = {r["fp"] for r in ref_fps.distinct().collect()}
    batch_rows = batch.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("fp")
    ).collect()
    by_fp: dict = {}
    for r in batch_rows:
        by_fp.setdefault(r["fp"], []).append(r["doc_id"])
    for r in out:
        assert r["fp"] not in ref_fp_set  # nothing already curated
        assert r["doc_id"] == min(by_fp[r["fp"]])  # lowest id survives
        assert r["n_batch_copies"] == len(by_fp[r["fp"]])
    expected_fresh = {fp for fp in by_fp if fp not in ref_fp_set}
    assert {r["fp"] for r in out} == expected_fresh


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    a=st.integers(0, (1 << 16) - 1),
    b=st.integers(0, (1 << 16) - 1),
    a2=st.integers(0, (1 << 16) - 1),
    b2=st.integers(0, (1 << 16) - 1),
)
def test_morton_key_properties(spark, a, b, a2, b2):
    """Interleave invariants: zero maps to zero, the key is a bijection
    on (a, b) pairs (distinct pairs -> distinct keys), the key is
    monotone in each coordinate with the other held fixed (the property
    that makes z-range cells axis-aligned rectangles), and
    de-interleaving reverses exactly."""
    from ominimo_dynamic_data_pipeline_spark.operators.scale import morton_key

    df = spark.createDataFrame(
        [(a, b), (a2, b2), (0, 0), (a2, b), (a, b2)],
        schema="x bigint, y bigint",
    )
    out = [
        r["z"]
        for r in df.select(morton_key(F.col("x"), F.col("y"), 16).alias("z"))
        .collect()
    ]
    z1, z2, z0, z_a2b, z_ab2 = out
    assert z0 == 0
    if (a, b) != (a2, b2):
        assert z1 != z2  # bijection: no two pairs share a key
    # per-coordinate monotonicity: with one coordinate fixed, key order
    # follows the other coordinate's order
    if a != a2:
        assert (z1 < z_a2b) == (a < a2)
    if b != b2:
        assert (z1 < z_ab2) == (b < b2)
    # de-interleave reverses exactly
    def undo(z):
        ra = rb = 0
        for i in range(16):
            ra |= ((z >> (2 * i + 1)) & 1) << i
            rb |= ((z >> (2 * i)) & 1) << i
        return ra, rb

    assert undo(z1) == (a, b)


# ---------------------------------------------------------------------------
# Round-5 operator invariants: equi-depth binning, gap fill, BPE encode.
# One hypothesis example = one small Spark job each, mirroring the
# validator-suite budget above.
# ---------------------------------------------------------------------------

_vals = st.lists(
    st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=60,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_vals)
def test_equi_depth_bin_invariants(spark, values):
    """Every row gets a bin in [0, bins); rows are conserved; bins are
    monotone in the value (sorting by value never decreases the bin)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        equi_depth_bin,
    )

    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               schema="id bigint, v double")
    out = equi_depth_bin(df, "v", bins=4).collect()
    assert len(out) == len(values)
    assert all(0 <= r["bin"] <= 3 for r in out)
    by_val = sorted(out, key=lambda r: (r["v"], r["id"]))
    bins = [r["bin"] for r in by_val]
    assert bins == sorted(bins)


_series = st.lists(
    st.tuples(st.integers(0, 40), st.floats(0, 1e4, allow_nan=False)),
    min_size=2,
    max_size=25,
    unique_by=lambda t: t[0],
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_series)
def test_gap_fill_linear_invariants(spark, pts):
    """The spine is dense over [min, max]; present days keep their exact
    value; interpolated values lie within the neighboring present values."""
    import datetime

    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        gap_fill_linear,
    )

    base = datetime.date(1997, 1, 1)
    rows = [("k", base + datetime.timedelta(days=d), v) for d, v in pts]
    df = spark.createDataFrame(rows, schema="k string, d date, v double")
    out = sorted(
        gap_fill_linear(df, ["k"], "d", "v").collect(), key=lambda r: r["d"]
    )
    days = sorted(d for d, _ in pts)
    assert len(out) == days[-1] - days[0] + 1
    present = {base + datetime.timedelta(days=d): v for d, v in pts}
    for r in out:
        if r["d"] in present:
            assert not r["interpolated"]
            assert abs(r["v"] - present[r["d"]]) < 1e-9
        else:
            assert r["interpolated"]
            before = max(v for d, v in present.items() if d < r["d"])
            lo_d = max(d for d in present if d < r["d"])
            hi_d = min(d for d in present if d > r["d"])
            lo, hi = sorted((present[lo_d], present[hi_d]))
            assert lo - 1e-6 <= r["v"] <= hi + 1e-6


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.text(alphabet="abcdefghinorst", min_size=1, max_size=12),
                min_size=1, max_size=8))
def test_bpe_encode_roundtrip(spark, words):
    """Removing the spaces from the symbol sequence reconstructs the word
    exactly, and merging never increases the symbol count past len(word)."""
    from ominimo_dynamic_data_pipeline_spark.llm.text import bpe_encode_col
    from ominimo_dynamic_data_pipeline_spark.queries.llm import _Q128_MERGES

    df = spark.createDataFrame([(w,) for w in set(words)],
                               schema="word string")
    enc = bpe_encode_col(F.col("word"), _Q128_MERGES)
    for r in df.select("word", enc.alias("sym")).collect():
        assert r["sym"].replace(" ", "") == r["word"]
        assert 1 <= len(r["sym"].split(" ")) <= len(r["word"])


_dq_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 5).map(str)),
        st.integers(0, 3),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_dq_rows)
def test_dataset_checks_metrics_match_python_truth(spark, rows):
    """row_count / unique (NULL-safe) / not_null metrics equal a direct
    Python computation on the same rows, and passed follows the gates."""
    from collections import Counter

    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        dataset_checks,
    )

    df = spark.createDataFrame(rows, schema="k string, v bigint")
    out = {
        (r["check"], r["target"]): r
        for r in dataset_checks(
            df,
            [
                {"type": "row_count", "min_rows": 5},
                {"type": "unique", "cols": ["k"]},
                {"type": "unique", "cols": ["k", "v"]},
                {"type": "not_null", "col": "k"},
            ],
        ).collect()
    }
    n = len(rows)
    assert out[("row_count", "*")]["metric"] == n
    assert out[("row_count", "*")]["passed"] == (n >= 5)
    dup_k = n - len(Counter(k for k, _ in rows))
    dup_kv = n - len(Counter(rows))
    assert out[("unique", "k")]["metric"] == dup_k
    assert out[("unique", "k")]["passed"] == (dup_k == 0)
    assert out[("unique", "k,v")]["metric"] == dup_kv
    nulls = sum(1 for k, _ in rows if k is None)
    assert out[("not_null", "k")]["metric"] == nulls
    assert out[("not_null", "k")]["passed"] == (nulls == 0)


# ---------------------------------------------------------------------------
# asof_join / point_in_interval_join vs brute force on arbitrary frames
# ---------------------------------------------------------------------------
_key = st.integers(0, 3)
_tval = st.integers(0, 50)
_left_row = st.tuples(_key, st.one_of(st.none(), _tval))
_right_row = st.tuples(_key, st.one_of(st.none(), _tval), st.integers(0, 999))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(_left_row, min_size=1, max_size=15),
    st.lists(_right_row, min_size=0, max_size=15),
    st.sampled_from(["backward", "forward"]),
    st.booleans(),
)
def test_asof_join_matches_bruteforce_property(spark, lrows, rrows, direction, strict):
    """For arbitrary (key, time) frames — NULL times, duplicate times,
    keys on one side only — asof_join must equal the per-row brute-force
    pick (latest-then-max-rid backward, earliest-then-min-rid forward),
    with LEFT semantics and NULL-time rows never matching."""
    from ominimo_dynamic_data_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)],
        schema="k bigint, t bigint, lid bigint",
    )
    right = spark.createDataFrame(
        rrows, schema="k bigint, t bigint, rid bigint"
    ) if rrows else spark.createDataFrame([], schema="k bigint, t bigint, rid bigint")
    got = {
        r["lid"]: r["rid"]
        for r in asof_join(
            left, right, on="t", by=["k"], direction=direction,
            strict=strict, tiebreak="rid",
        ).collect()
    }
    want = {}
    for lid, (k, t) in enumerate(lrows):
        cands = []
        for rk, rt, rid in rrows:
            if rk != k or rt is None or t is None:
                continue
            if direction == "backward":
                ok = rt < t if strict else rt <= t
            else:
                ok = rt > t if strict else rt >= t
            if ok:
                cands.append((rt, rid))
        if not cands:
            want[lid] = None
        elif direction == "backward":
            want[lid] = max(cands)[1]  # latest ts, then max rid
        else:
            want[lid] = min(cands)[1]  # earliest ts, then MIN rid
    assert got == want


_iv_row = st.tuples(_key, _tval, st.integers(-5, 60), st.integers(0, 999))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.tuples(_key, _tval), min_size=1, max_size=12),
    st.lists(_iv_row, min_size=0, max_size=12),
    st.sampled_from([1, 3, 17, 100]),
)
def test_interval_join_matches_bruteforce_property(spark, pts, ivs, bin_size):
    """For arbitrary points and (possibly inverted) intervals, the binned
    join equals the brute-force containment set at EVERY bin size."""
    from ominimo_dynamic_data_pipeline_spark.operators.joins import (
        point_in_interval_join,
    )

    pdf = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(pts)],
        schema="k bigint, v bigint, pid bigint",
    )
    idf = spark.createDataFrame(
        [(k, lo, lo + span, rid) for k, lo, span, rid in ivs],
        schema="k bigint, lo bigint, hi bigint, rid bigint",
    ) if ivs else spark.createDataFrame([], schema="k bigint, lo bigint, hi bigint, rid bigint")
    got = sorted(
        (r["pid"], r["rid"])
        for r in point_in_interval_join(
            pdf, idf, "v", "lo", "hi", by=["k"], bin_size=bin_size
        ).collect()
    )
    want = sorted(
        (pid, rid)
        for pid, (k, v) in enumerate(pts)
        for ik, lo, span, rid in ivs
        if ik == k and span >= 0 and lo <= v <= lo + span
    )
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(_iv_row, min_size=1, max_size=10),
    st.lists(_iv_row, min_size=0, max_size=10),
    st.sampled_from([1, 7, 23, 100]),
)
def test_interval_overlap_join_matches_bruteforce_property(
    spark, livs, rivs, bin_size
):
    """Overlap pairs equal brute force at every bin size, each emitted
    exactly ONCE (the first-shared-bin dedup trick), with inverted
    intervals dropped on either side."""
    from ominimo_dynamic_data_pipeline_spark.operators.joins import (
        interval_overlap_join,
    )

    ldf = spark.createDataFrame(
        [(k, lo, lo + span, rid) for k, lo, span, rid in livs],
        schema="k bigint, lo bigint, hi bigint, lid bigint",
    )
    rdf = spark.createDataFrame(
        [(k, lo, lo + span, rid) for k, lo, span, rid in rivs],
        schema="k bigint, rlo bigint, rhi bigint, rid bigint",
    ) if rivs else spark.createDataFrame(
        [], schema="k bigint, rlo bigint, rhi bigint, rid bigint"
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, "lo", "hi", "rlo", "rhi", by=["k"], bin_size=bin_size
        ).collect()
    )
    want = sorted(
        (lid, rid)
        for lk, llo, lspan, lid in livs
        for rk, rlo, rspan, rid in rivs
        if lk == rk and lspan >= 0 and rspan >= 0
        and llo <= rlo + rspan and rlo <= llo + lspan
    )
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.integers(0, 4), min_size=1, max_size=40),
    st.integers(1, 10),
    st.integers(0, 1000),
)
def test_group_quota_cap_matches_python_truth(spark, groups, cap, seed):
    """For arbitrary group assignments: per group, kept == min(cap, n);
    kept ids are exactly the cap-smallest under the seeded md5 order
    (recomputed in Python); group_docs reports pre-cap sizes."""
    import hashlib

    from ominimo_dynamic_data_pipeline_spark.llm.sampling import group_quota_cap

    rows = [(i, str(g)) for i, g in enumerate(groups)]
    df = spark.createDataFrame(rows, schema="doc_id bigint, g string")
    got = group_quota_cap(df, group_col="g", cap=cap, seed=seed).collect()
    by_g = {}
    for i, g in rows:
        key = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        by_g.setdefault(str(g), []).append((key, i))
    want = {}
    sizes = {}
    for g, members in by_g.items():
        members.sort()
        sizes[g] = len(members)
        want[g] = {i for _, i in members[:cap]}
    got_by_g = {}
    for r in got:
        got_by_g.setdefault(r["g"], set()).add(r["doc_id"])
        assert r["group_docs"] == sizes[r["g"]]
        assert 1 <= r["group_rank"] <= cap
    assert got_by_g == {g: w for g, w in want.items() if w}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.integers(2, 12),
    st.lists(st.tuples(st.integers(0, 11), st.integers(0, 11)), max_size=12),
    st.integers(0, 1000),
)
def test_cluster_safe_split_matches_python_truth(spark, n, edges, seed):
    """For arbitrary pair graphs over n docs: cluster_id equals the
    Python union-find component minimum, every component shares one
    split, and the split equals the md5 bucket of the component key."""
    import hashlib

    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        cluster_safe_split,
    )

    pairs = sorted({(min(a, b), max(a, b)) for a, b in edges
                    if a != b and a < n and b < n})
    df = spark.createDataFrame(
        [(i,) for i in range(n)], schema="doc_id bigint"
    )
    pdf = spark.createDataFrame(
        pairs or [(None, None)],
        schema="id_a bigint, id_b bigint",
    ).filter(F.col("id_a").isNotNull())
    mod = 1_048_576
    out = cluster_safe_split(
        df, pdf, val_frac=0.25, test_frac=0.25, seed=seed, mod=mod
    ).collect()
    # Python union-find truth
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {i: find(i) for i in range(n)}
    # component label must be the min member id
    label = {}
    for i in range(n):
        r = comp[i]
        label[r] = min(label.get(r, i), i)
    t_test, t_val = int(mod * 0.25), int(mod * 0.5)
    for r in out:
        want_cluster = label[comp[r["doc_id"]]]
        assert r["cluster_id"] == want_cluster, (r, want_cluster)
        bucket = int(
            hashlib.md5(f"{seed}:{want_cluster}".encode()).hexdigest()[:15],
            16,
        ) % mod
        want_split = ("test" if bucket < t_test
                      else "val" if bucket < t_val else "train")
        assert r["split"] == want_split


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=0, max_size=12),
        min_size=2,
        max_size=6,
    )
)
def test_containment_scores_match_python_sets(spark, token_lists):
    """For arbitrary token streams (including docs too short to shingle):
    containment_a/b and jaccard equal the Python set computation over
    distinct 3-shingles, for every explicitly-requested pair."""
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import (
        containment_scores,
    )

    docs = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(docs, schema="doc_id bigint, text string")
    pairs = [(a, b) for a in range(len(docs)) for b in range(a + 1, len(docs))]
    pdf = spark.createDataFrame(pairs, schema="id_a bigint, id_b bigint")
    got = {(r["id_a"], r["id_b"]): r
           for r in containment_scores(df, pdf).collect()}

    def shingles(toks):
        return {" ".join(toks[i:i+3]) for i in range(len(toks) - 2)}

    for a, b in pairs:
        sa, sb = shingles(token_lists[a]), shingles(token_lists[b])
        if not sa or not sb:
            # a shingle-less doc drops out of the shingle frame -> the
            # pair is absent (inner join), mirroring jaccard_pairs
            assert (a, b) not in got
            continue
        r = got[(a, b)]
        inter = len(sa & sb)
        assert r["containment_a"] == round(inter / len(sa), 6)
        assert r["containment_b"] == round(inter / len(sb), 6)
        assert r["jaccard"] == round(inter / len(sa | sb), 6)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.lists(st.sampled_from("aa bb cc dd ee ff".split()),
                     min_size=0, max_size=8),
            st.booleans(),
        ),
        min_size=1,
        max_size=10,
    ),
    st.sampled_from([None, 4]),
)
def test_dsir_importance_matches_python_truth(spark, docs, num_buckets):
    """For arbitrary tiny corpora: llr equals the Python-recomputed
    DSIR log-likelihood ratio (same smoothing, same md5 bucketing, same
    micro-unit quantization) to within 2 micro (cross-libm ln slack);
    n_tokens is exact; zero-token docs are absent; the feature space
    never exceeds num_buckets when bucketing is on."""
    import hashlib
    import math

    from ominimo_dynamic_data_pipeline_spark.llm.sampling import dsir_importance

    alpha, seed = 0.5, 99
    rows = [(i, " ".join(words), bool(t)) for i, (words, t) in enumerate(docs)]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string, t boolean")
    got = {r["doc_id"]: r for r in dsir_importance(
        df, target=F.col("t"), alpha=alpha, num_buckets=num_buckets, seed=seed
    ).collect()}

    def key(word):
        if num_buckets is None:
            return word
        return int(hashlib.md5(f"{seed}:{word}".encode()).hexdigest()[:15], 16) % num_buckets

    c_raw, c_tgt = {}, {}
    for _, (words, t) in enumerate(docs):
        for w in words:
            k = key(w)
            c_raw[k] = c_raw.get(k, 0) + 1
            if t:
                c_tgt[k] = c_tgt.get(k, 0) + 1
    n_raw, n_tgt, v = sum(c_raw.values()), sum(c_tgt.values()), len(c_raw)

    def half_away(x):
        return math.floor(abs(x) * 1e6 + 0.5) * (1 if x >= 0 else -1)

    lr_micro = {
        k: half_away(
            math.log((c_tgt.get(k, 0) + alpha) / (n_tgt + alpha * v))
            - math.log((c_raw[k] + alpha) / (n_raw + alpha * v))
        )
        for k in c_raw
    }
    for i, (words, _) in enumerate(docs):
        if not words:
            assert i not in got
            continue
        r = got[i]
        assert r["n_tokens"] == len(words)
        want = sum(lr_micro[key(w)] for w in words) / 1e6
        assert abs(r["llr"] - want) <= 2e-6 * max(1, len(words))
    if num_buckets is not None:
        assert v <= num_buckets


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.integers(0, 50), min_size=1, max_size=12),
        min_size=1,
        max_size=4,
    )
)
def test_cusum_changepoint_matches_python_truth(spark, series_list):
    """For arbitrary integer series: the reported changepoint is the
    exact argmax of |n*prefix - i*total| (earliest-time tiebreak), the
    peak equals that scaled integer / n, and direction is its sign."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        cusum_changepoint,
    )

    rows = [
        (g, t, x)
        for g, series in enumerate(series_list)
        for t, x in enumerate(series)
    ]
    df = spark.createDataFrame(rows, schema="g bigint, t bigint, x bigint")
    got = {r["g"]: r for r in
           cusum_changepoint(df, "g", "t", "x").collect()}
    for g, series in enumerate(series_list):
        n, total = len(series), sum(series)
        scaled = []
        prefix = 0
        for i, x in enumerate(series, start=1):
            prefix += x
            scaled.append(n * prefix - i * total)
        best = max(range(n), key=lambda i: (abs(scaled[i]), -i))
        r = got[g]
        assert r["changepoint"] == best
        assert r["n_points"] == n
        assert r["cusum_peak"] == scaled[best] / n
        want_dir = 1 if scaled[best] > 0 else (-1 if scaled[best] < 0 else 0)
        assert r["direction"] == want_dir


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.sampled_from("aa bb cc dd".split()), min_size=0, max_size=10),
        min_size=1,
        max_size=8,
    )
)
def test_token_entropy_matches_python_truth(spark, token_lists):
    """entropy/norm_entropy equal the Python-recomputed nano-quantized
    Shannon entropy exactly; single-token docs get norm_entropy NULL;
    all-same-token docs get entropy 0; zero-token docs are absent."""
    import math
    from collections import Counter

    from ominimo_dynamic_data_pipeline_spark.llm.text import token_entropy

    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
    got = {r["doc_id"]: r for r in token_entropy(df).collect()}

    def nano(x):
        v = math.log(x) * 1e9
        return math.floor(abs(v) + 0.5) * (1 if v >= 0 else -1)

    for i, toks in enumerate(token_lists):
        if not toks:
            assert i not in got
            continue
        n = len(toks)
        counts = Counter(toks)
        scaled = n * nano(n) - sum(c * nano(c) for c in counts.values())
        r = got[i]
        assert r["n_tokens"] == n and r["n_types"] == len(counts)
        assert r["entropy"] == scaled / (n * 1e9)
        if n > 1:
            assert r["norm_entropy"] == scaled / (n * nano(n))
            if len(counts) == 1:
                assert r["entropy"] == 0.0
        else:
            assert r["norm_entropy"] is None


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.integers(0, 4), min_size=1, max_size=25),
    st.integers(0, 500),
)
def test_interleave_order_matches_python_truth(spark, group_ids, seed):
    """interleave_pos round-robins groups: positions are unique, equal
    the Python recomputation ((rank-1)*n_groups + group_index under the
    seeded md5 in-group order), and sorting by position alternates
    groups while every group still has rows."""
    import hashlib

    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        interleave_order,
    )

    rows = [(i, f"g{g}") for i, g in enumerate(group_ids)]
    df = spark.createDataFrame(rows, schema="doc_id bigint, grp string")
    got = {r["doc_id"]: r for r in
           interleave_order(df, group_col="grp", seed=seed).collect()}

    groups = sorted({g for _, g in rows})
    gidx = {g: i for i, g in enumerate(groups)}
    by_g = {}
    for i, g in rows:
        key = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        by_g.setdefault(g, []).append((key, i))
    want = {}
    for g, members in by_g.items():
        members.sort()
        for rank, (_, i) in enumerate(members, start=1):
            want[i] = (rank, (rank - 1) * len(groups) + gidx[g])
    assert len(got) == len(rows)
    positions = set()
    for i, g in rows:
        r = got[i]
        assert (r["rank_in_group"], r["interleave_pos"]) == want[i]
        positions.add(r["interleave_pos"])
    assert len(positions) == len(rows)  # unique sort key
    # round-robin while all groups alive: the first len(groups) rows in
    # position order are one per group
    head = sorted(got.values(), key=lambda r: r["interleave_pos"])
    first_cycle = [r["grp"] for r in head[: len(groups)]]
    if all(len(m) >= 1 for m in by_g.values()) and len(groups) > 1:
        assert sorted(first_cycle) == groups


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(1, 50), st.integers(1, 10_000)),
        min_size=2,
        max_size=20,
    ).filter(lambda pts: len({x for x, _ in pts}) > 1)
)
def test_ols_moments_match_fraction_truth(spark, pts):
    """The q161 moment formulation equals exact-Fraction OLS: slope and
    intercept match the closed form computed in rational arithmetic,
    then converted to float the same way (single division of exact
    operands)."""
    from fractions import Fraction

    rows = [("A", float(x), y / 100.0) for x, y in pts]
    df = spark.createDataFrame(
        rows, schema="l_returnflag string, l_quantity double, l_extendedprice double"
    )
    df.createOrReplaceTempView("_ols_in")
    # drive the same expressions as q161 via the operator-free SQL body
    out = spark.sql("""
        WITH m AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(l_quantity AS DECIMAL(18,2))) AS sxx
            FROM _ols_in GROUP BY l_returnflag)
        SELECT l_returnflag, n,
               CAST(CAST(n * sxy - sx * sy AS STRING) AS DOUBLE)
                   / CAST(CAST(n * sxx - sx * sx AS STRING) AS DOUBLE)
                   AS slope
        FROM m
    """).collect()[0]
    n = len(pts)
    sx = sum(Fraction(x) for x, _ in pts)
    sy = sum(Fraction(y, 100) for _, y in pts)
    sxy = sum(Fraction(x) * Fraction(y, 100) for x, y in pts)
    sxx = sum(Fraction(x) * Fraction(x) for x, _ in pts)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    assert out["n"] == n
    assert out["slope"] == float(num) / float(den)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.integers(1, 30), min_size=1, max_size=10))
def test_source_gini_matches_python_truth(spark, counts):
    """Gini over synthetic per-source doc counts equals the Python
    rank-weighted formula exactly; uniform mixes score 0 and the
    top-share matches max/total."""
    rows = [(f"s{si}", di) for si, c in enumerate(counts) for di in range(c)]
    df = spark.createDataFrame(rows, schema="source string, doc_id bigint")
    df.createOrReplaceTempView("_gini_docs")
    out = spark.sql("""
        WITH counts AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS c
            FROM _gini_docs GROUP BY source),
        ranked AS (
            SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c, source) AS BIGINT)
                       AS i
            FROM counts)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
               CAST(SUM(c) AS BIGINT) AS total_docs,
               CAST(2 * SUM(i * c) AS DOUBLE)
                   / CAST(COUNT(*) * SUM(c) AS DOUBLE)
                   - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS gini,
               CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_share
        FROM ranked
    """).collect()[0]
    n, total = len(counts), sum(counts)
    s1 = sum(i * c for i, c in enumerate(sorted(counts), start=1))
    want = float(2 * s1) / float(n * total) - float(n + 1) / float(n)
    assert out["n_sources"] == n and out["total_docs"] == total
    assert out["gini"] == want
    assert out["top_share"] == float(max(counts)) / float(total)
    if len(set(counts)) == 1:
        assert abs(out["gini"]) < 1e-12


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.integers(0, 100), min_size=1, max_size=15),
        min_size=1,
        max_size=3,
    )
)
def test_ewma_fold_matches_python_recurrence(spark, series_list):
    """The q166 array-fold EWMA equals the Python recurrence exactly
    (same literal coefficients, same observation order, same seed-at-
    first-value semantics)."""
    rows = [
        (g, t, x)
        for g, series in enumerate(series_list)
        for t, x in enumerate(series)
    ]
    df = spark.createDataFrame(rows, schema="g bigint, t bigint, x bigint")
    series = df.groupBy("g").agg(
        F.array_sort(F.collect_list(F.struct("t", "x"))).alias("s")
    )
    fold = F.aggregate(
        F.col("s"),
        F.array().cast("array<double>"),
        lambda acc, e: F.concat(
            acc,
            F.array(
                F.when(F.size(acc) == 0, e["x"].cast("double")).otherwise(
                    F.lit(0.3) * e["x"] + F.lit(0.7) * F.element_at(acc, -1)
                )
            ),
        ),
    )
    out = {
        (r["g"], r["z"]["s"]["t"]): r["z"]["e"]
        for r in series.select(
            "g",
            F.posexplode(F.arrays_zip(F.col("s"), fold.alias("e"))).alias(
                "pos", "z"
            ),
        ).collect()
    }
    for g, series_vals in enumerate(series_list):
        prev = None
        for t, x in enumerate(series_vals):
            prev = float(x) if prev is None else 0.3 * x + 0.7 * prev
            assert out[(g, t)] == prev


# --- round-6 continuation: cumulative-distinct and session-boundary props ---


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),          # event_type
            st.integers(min_value=0, max_value=6),  # day offset
            st.integers(min_value=0, max_value=9),  # user
        ),
        min_size=1,
        max_size=60,
    )
)
def test_cumulative_distinct_matches_bruteforce(spark, rows):
    """q168's first-seen + running-sum composition equals the brute-force
    per-prefix distinct count on arbitrary (type, day, user) streams —
    including days with events but no new users."""
    import datetime

    from ominimo_dynamic_data_pipeline_spark.queries.windows_batch import (
        q168_cumulative_distinct_users,
    )

    base = datetime.datetime(2024, 1, 1)
    data = [
        (i, base + datetime.timedelta(days=d, hours=1), u, et)
        for i, (et, d, u) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, schema="event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(f"{td}/events.parquet")
        got = {
            (r["event_type"], r["day"]): (r["n_new_users"], r["cum_users"])
            for r in q168_cumulative_distinct_users(spark, td).collect()
        }

    days = {}
    for et, d, u in rows:
        days.setdefault(et, {}).setdefault(d, set()).add(u)
    for et, by_day in days.items():
        seen: set = set()
        for d in sorted(by_day):
            day_str = (base + datetime.timedelta(days=d)).strftime("%Y-%m-%d")
            new = {u for u in by_day[d] if u not in seen}
            seen |= by_day[d]
            nn, cum = got[(et, day_str)]
            assert nn == len(new), (et, d)
            assert cum == len(seen), (et, d)
    assert len(got) == sum(len(v) for v in days.values())


def test_session_path_boundary_matches_session_window(spark):
    """Boundary pin, settled EMPIRICALLY: F.session_window MERGES an
    event arriving at exactly last + gap (closed boundary, verified
    here — 3 events 300 s apart form ONE session), so q183's strict
    `gap > 300e6` cut matches it and path multiplicities sum to
    session_window's session count even on exact-boundary data."""
    import datetime

    from pyspark.sql import functions as F

    from ominimo_dynamic_data_pipeline_spark.queries.windows_batch import (
        q183_top_session_paths,
    )

    base = datetime.datetime(2024, 1, 1)
    # user 1: gaps of exactly 300s (boundary), user 2: gaps of 299s
    data = []
    eid = 0
    for u, gap_s in ((1, 300), (2, 299)):
        t = base
        for _ in range(3):
            data.append((eid, t, u, "click"))
            eid += 1
            t = t + datetime.timedelta(seconds=gap_s)
    df = spark.createDataFrame(
        data, schema="event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    n_sw = (
        df.groupBy(
            F.session_window("ts", "5 minutes").alias("w"), "user_id"
        )
        .count()
        .count()
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(f"{td}/events.parquet")
        paths = q183_top_session_paths(spark, td).collect()
    assert sum(r["n"] for r in paths) == n_sw
    # one merged session per user: closed-boundary semantics
    assert n_sw == 2
    assert {r["path"] for r in paths} == {"click>click>click"}


# ---------------------------------------------------------------------------
# Round-6 continuation operators: brute-force equivalence under generated
# inputs (the fixed-data pins in test_stat.py cover the catalog data;
# these cover the edge shapes random generation finds — exact-boundary
# timestamps, all-tied prices, single-event users, mutated strings).
# ---------------------------------------------------------------------------

_funnel_event = st.tuples(
    st.integers(min_value=0, max_value=3),          # user
    st.integers(min_value=0, max_value=20),         # coarse time unit
    st.sampled_from(["view", "click", "purchase", "other"]),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(st.lists(_funnel_event, min_size=1, max_size=40))
def test_window_funnel_matches_greedy_reference(spark, events):
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        window_funnel,
    )

    horizon = 5_000_000  # 5 coarse units of 1s each, in micros
    data = [
        (u, t * 1_000_000, typ) for u, t, typ in events
    ]
    df = spark.createDataFrame(
        [(u, us, typ) for u, us, typ in data],
        schema="user_id bigint, us bigint, event_type string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "event_type",
    )
    got = {
        r["user_id"]: (r["step_1_us"], r["step_2_us"], r["step_3_us"])
        for r in window_funnel(
            df,
            user_col="user_id",
            ts_col="ts",
            type_col="event_type",
            steps=("view", "click", "purchase"),
            horizon_us=horizon,
        ).collect()
    }
    by_user: dict = {}
    for u, us, typ in data:
        by_user.setdefault(u, []).append((us, typ))
    for u, evs in by_user.items():
        t1 = min((us for us, t in evs if t == "view"), default=None)
        t2 = t3 = None
        if t1 is not None:
            t2 = min(
                (us for us, t in evs
                 if t == "click" and us >= t1 and us - t1 <= horizon),
                default=None,
            )
        if t2 is not None:
            t3 = min(
                (us for us, t in evs
                 if t == "purchase" and us >= t2 and us - t1 <= horizon),
                default=None,
            )
        assert got[u] == (t1, t2, t3), (u, evs)


_sky_row = st.tuples(
    st.integers(min_value=0, max_value=6),   # price (heavy ties)
    st.integers(min_value=0, max_value=6),   # size
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(st.lists(_sky_row, min_size=1, max_size=30))
def test_pareto_frontier_matches_quadratic_reference(spark, rows):
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        pareto_frontier,
    )

    data = [(i, p, z) for i, (p, z) in enumerate(rows)]
    df = spark.createDataFrame(
        data, schema="rid bigint, price bigint, size bigint"
    )
    got = {
        r["rid"]
        for r in pareto_frontier(
            df, minimize_col="price", maximize_col="size"
        ).collect()
    }
    expected = {
        i
        for i, p, z in data
        if not any(
            p2 <= p and z2 >= z and (p2 < p or z2 > z)
            for _, p2, z2 in data
        )
    }
    assert got == expected, (sorted(data), sorted(got), sorted(expected))


_word = st.text(alphabet="abc", min_size=0, max_size=5)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(st.lists(_word, min_size=1, max_size=12))
def test_symspell_d1_matches_quadratic_reference(spark, words):
    from conftest import lev_reference
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        symspell_pairs,
    )

    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = {
        (r["value_a"], r["value_b"], r["dist"])
        for r in symspell_pairs(df, "w", max_distance=1).collect()
    }
    ws = sorted(set(words))
    expected = {
        (a, b, lev_reference(a, b))
        for i, a in enumerate(ws)
        for b in ws[i + 1 :]
        if lev_reference(a, b) <= 1
    }
    assert got == expected, (ws, sorted(got), sorted(expected))


def test_countmin_bucket_matches_independent_int64_model():
    """Property: functions/sketches.py replicates Java's 64-bit wrapping
    hash (h = a*x; h += h >> 32 arithmetic; h &= 2^31-1; % width) —
    checked against an independent numpy int64 model over random
    (hashA, item) pairs including the extremes."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ominimo_dynamic_data_pipeline_spark.functions.sketches import (
        CountMinSketch,
    )

    i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)

    @settings(max_examples=300, deadline=None)
    @given(a=i64, item=i64, width=st.integers(min_value=1, max_value=10_000))
    def check(a, item, width):
        sk = CountMinSketch(
            total_count=0, depth=1, width=width,
            hash_a=(a,), table=((0,) * width,),
        )
        with np.errstate(over="ignore"):
            h = np.int64(a) * np.int64(item)
            h = h + (h >> np.int64(32))
            h = h & np.int64((1 << 31) - 1)
            want = int(h) % width
        assert sk._bucket(item, 0) == want

    check()


def test_duck_round_expr_matches_duckdb_bit_for_bit(spark):
    """duck_round_expr is DuckDB's ROUND(double, d) exactly — including
    the boundary doubles where Spark's F.round (BigDecimal HALF_UP on
    the shortest decimal string) diverges.  Adversarial values: for each
    scale, integers-plus-half divided back by 10^d, nudged ±2 ulps so
    the multiply lands just above / on / below the tie, plus seeded
    uniform values, NaN/inf/NULL, the 2^52 integral threshold, signed
    zeros, subnormals, x * 10^d overflowing to inf (DuckDB returns x),
    and negatives just inside a half (v - floor(v) rounds up to 0.5
    there).  The scalar twin duck_round must agree bit for bit too."""
    import math
    import random
    import struct as _struct

    import duckdb

    def nudge(x: float, ulps: int) -> float:
        for _ in range(abs(ulps)):
            b = _struct.unpack("<q", _struct.pack("<d", x))[0]
            x = _struct.unpack("<d", _struct.pack("<q", b + (1 if ulps > 0 else -1)))[0]
        return x

    rng = random.Random(20260816)
    vals: list[tuple[float | None, int]] = []
    for d in (0, 2, 4, 6):
        p = 10.0 ** d
        for _ in range(300):
            base = (rng.randint(-(10 ** 7), 10 ** 7) + 0.5) / p
            for u in (-2, -1, 0, 1, 2):
                vals.append((nudge(base, u), d))
        for _ in range(200):
            vals.append((rng.uniform(-1e9, 1e9) / rng.choice([1.0, 7.0, 1e6]), d))
    vals += [
        (float("nan"), 2), (float("inf"), 2), (float("-inf"), 2),
        (None, 2), (2.0 ** 52, 2), (2.0 ** 53, 4), (1e300, 6), (0.0, 0),
        (-0.5, 0), (0.5, 0), (2.5, 0), (-2.5, 0),
        (1.7976931348623157e308, 6), (-1.7976931348623157e308, 6),
        (1e303, 6), (-1e303, 6), (-0.0, 2), (-0.4, 0), (-1e-07, 6),
        (-0.49999999999999994, 0), (0.49999999999999994, 0),
        (5e-324, 0), (-5e-324, 6), (2.0 ** 52 + 2, 0),
        (1234.4999995, 6), (-1234.4999995, 6), (0.5e-6, 6), (-0.5e-6, 6),
        (-0.9999995, 6), (1.5e-6, 6), (-1.5e-6, 6),
    ]
    rows = [(i, x, d) for i, (x, d) in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, x double, d int")
    got: dict[int, float | None] = {}
    for d in sorted({d for _, d in vals}):
        part = df.filter(F.col("d") == d).select(
            "id", duck_round_expr(F.col("x"), d).alias("r")
        )
        for r in part.collect():
            got[r["id"]] = r["r"]
    con = duckdb.connect()

    def bits(v: float | None) -> str:
        if v is None or math.isnan(v):
            return repr(v)
        return _struct.pack("<d", v).hex()

    for i, (x, d) in enumerate(vals):
        exp = con.execute("SELECT round(?::DOUBLE, ?)", [x, d]).fetchone()[0]
        assert bits(got[i]) == bits(exp), (x, d, got[i], exp)
        if x is not None:
            assert bits(duck_round(x, d)) == bits(exp), (x, d, exp)


def test_duck_round_cutoff_exact_preimage():
    """duck_round_cutoff(t, d) is the exact ULP boundary of
    {x >= 0 : duck_round(x, d) >= t}: the cutoff itself clears the
    threshold after rounding, the next-lower double does not.  Property
    checked over seeded thresholds at every scale the engine uses, plus
    the threshold<=0 degenerate case (round-11 ADVICE: 0.0 used to
    assert; it must mean keep-all)."""
    import random
    import struct as _struct

    def prev_double(x: float) -> float:
        b = _struct.unpack("<q", _struct.pack("<d", x))[0]
        return _struct.unpack("<d", _struct.pack("<q", b - 1))[0]

    rng = random.Random(20260817)
    for d in (0, 2, 4, 6):
        p = 10.0 ** d
        thresholds = [rng.randint(1, 10 ** min(d + 3, 7)) / p for _ in range(200)]
        thresholds += [1.0 / p, 0.5, 0.85, 0.999999]
        for t in thresholds:
            cut = duck_round_cutoff(t, d)
            assert duck_round(cut, d) >= t, (t, d, cut)
            if cut > 0.0:
                assert duck_round(prev_double(cut), d) < t, (t, d, cut)
    # degenerate thresholds: keep-all, expressed as cutoff 0.0 (scores
    # are non-negative by construction)
    assert duck_round_cutoff(0.0, 6) == 0.0
    assert duck_round_cutoff(-1.0, 2) == 0.0
