"""Seeded input generators for the benchmark.

Two inputs, both built inside the benchmark's own cache directory:

* ``make_base_tables``: the ten catalog tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) at sf0.1, with the schemas
  and value ranges of the test tables TESTDATA.md describes.  Written with
  pyarrow as one parquet file per table, like those.
* ``make_motor_input``: newline-delimited motor policy records drawn from
  the ten golden rows of ``tests/data/motor_policies.json``, plus the
  OK/KO counts and validation stats those draws must produce.

Every generator is a pure function of its seed.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
GOLDEN_MOTOR = REPO / "tests" / "data" / "motor_policies.json"
GOLDEN_TEST = REPO / "tests" / "test_pipeline_golden.py"

TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# sf0.1 row counts of the TESTDATA.md tables
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.145, 0.15]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            # planted near-duplicate: an earlier document with a few
            # words substituted, so the dedup families find real pairs
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            k = int(rng.integers(8, 100))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), k)]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
        }
    )


def _embeddings(rng, n):
    vec = rng.standard_normal((n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def base_tables(seed: int) -> dict[str, pa.Table]:
    """The ten sf0.1 catalog tables for ``seed``, in memory."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = BASE_ROWS
    i32 = lambda a: pa.array(np.asarray(a, np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, np.int64))  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": i64(range(c)),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": i32(rng.integers(0, 25, c)),
            "c_acctbal": _money(rng, c, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": i64(range(s)),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": i32(rng.integers(0, 25, s)),
            "s_acctbal": _money(rng, s, -999.99, 9999.99),
        }
    )
    p = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": i64(range(p)),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, p)],
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": i32(rng.integers(1, 51, p)),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": i64(range(o)),
            "o_custkey": i64(rng.integers(0, c, o)),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": _money(rng, o, 1000.0, 500000.0),
            "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, o, li)),
            "l_partkey": i64(rng.integers(0, p, li)),
            "l_suppkey": i64(rng.integers(0, s, li)),
            "l_linenumber": i32(rng.integers(1, 8, li)),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400_000_000
    offsets = np.sort(rng.integers(0, span_us, e))
    t["events"] = pa.table(
        {
            "event_id": i64(range(e)),
            "ts": pa.array((start + offsets).astype("datetime64[us]")),
            "user_id": i64(rng.integers(0, 1500, e)),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def make_base_tables(out_dir: Path, seed: int) -> Path:
    """Write the sf0.1 tables for ``seed`` under ``out_dir`` (cached)."""
    out_dir = Path(out_dir)
    done = out_dir / "_SUCCESS"
    if not done.exists():
        out_dir.mkdir(parents=True, exist_ok=True)
        for name, table in base_tables(seed).items():
            pq.write_table(table, out_dir / f"{name}.parquet")
        done.write_text(tables_digest(out_dir))
    return out_dir


def tables_digest(sf_dir: Path) -> str:
    """Content hash of the ten parquet tables under ``sf_dir``."""
    h = hashlib.sha256()
    for name in TABLE_NAMES:
        h.update(name.encode())
        h.update((Path(sf_dir) / f"{name}.parquet").read_bytes())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------- motor


def golden_motor_rows() -> list[dict]:
    return [json.loads(x) for x in GOLDEN_MOTOR.read_text().splitlines() if x]


def golden_ko_errors() -> dict[str, set[str]]:
    """Per-golden KO verdicts, as pinned by the golden pipeline test."""
    spec = importlib.util.spec_from_file_location("_golden", GOLDEN_TEST)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.EXPECTED_KO_ERRORS


def motor_draws(seed: int, n: int) -> np.ndarray:
    """Index of the golden row behind each of the ``n`` records."""
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.integers(0, len(golden_motor_rows()), n)


def expected_motor(draws: np.ndarray) -> dict:
    """OK/KO counts and validation stats the draws must produce."""
    golden = golden_motor_rows()
    ko_errors = golden_ko_errors()
    per_golden = np.bincount(draws, minlength=len(golden))
    ok = ko = 0
    errors: Counter = Counter()
    null_age = 0
    for row, k in zip(golden, per_golden):
        k = int(k)
        verdict = ko_errors.get(row["policy_number"])
        if verdict is None:
            ok += k
        else:
            ko += k
            for err in verdict:
                errors[err] += k
        age = row.get("driver_age", (row.get("driver") or {}).get("age"))
        null_age += k if age is None else 0
    return {
        "total": int(len(draws)),
        "ok": ok,
        "ko": ko,
        "errors": dict(errors),
        "driver_age_nulls": null_age,
    }


def make_motor_input(path: Path, seed: int, n: int) -> dict:
    """Write ``n`` seeded motor records to ``path``; return the expected
    verdict counts.  Each record is a golden row with a unique policy
    number, so the normalize/validate behaviour mix is preserved."""
    golden = golden_motor_rows()
    draws = motor_draws(seed, n)
    path = Path(path)
    if not path.exists():
        path.parent.mkdir(parents=True, exist_ok=True)
        encoded = []
        for row in golden:
            body = dict(row)
            base = body.pop("policy_number")
            rest = json.dumps(body, separators=(",", ":"))[1:]
            encoded.append((base, rest))
        tmp = path.with_suffix(".tmp")
        with tmp.open("w") as fh:
            for i, g in enumerate(draws):
                base, rest = encoded[g]
                sep = "," if rest != "}" else ""
                fh.write(f'{{"policy_number":"{base}-{i}"{sep}{rest}\n')
        tmp.rename(path)
    return expected_motor(draws)
