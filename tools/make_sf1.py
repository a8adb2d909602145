"""Deterministic scale-decade upscaler: sf0.1 -> sf1 -> sf10 -> sf30/sf100.

The DuckDB tpch extension needs a download, so each decade is derived
from the one below it by replicating its tables with disjoint key
spaces — the realistic "more data, same density" scaling:

- fact/dim keys get a per-copy offset (the decade's stride, widened with
  every decade so the source's key range stays inside one block), so
  joins keep their per-key fanout (no artificial hot keys);
- region/nation stay single-copy (true small dims);
- document text is token-suffixed per copy with a decade-distinct marker
  ("tok" -> "tok_3" at sf1; "~" at sf10, "^" at sf30, "@" at sf100), so
  copies share NO n-grams: near-dup pair counts and LSH bucket sizes
  scale linearly (verbatim copies would make every bucket 10x and the
  pair stage 100x — a degenerate corpus, not a scale test);
- embeddings get a deterministic per-copy sinusoidal perturbation so
  cosine structure is preserved but copies are not exact duplicates.

Decades (DECADES below):

- sf1, sf10: every table, 10 copies of the decade below (sf10 ~1.8 GB).
  Two measured decades of growth back the 100 TB extrapolation: a
  super-linear stage shows up as compounding growth by the second decade
  even when one decade hides it in fixed overhead;
- sf30: 3 copies of sf10, only the tables the heavy-tail queries read —
  lineitem + orders (q139, q199, q108/q112/q97 pair expansion), events
  (q141/q151 state stores), documents + embeddings (q146, q191, q37,
  q197); ~180M lineitem rows, ~6 GB;
- sf100: 10 copies of sf10, lineitem + orders only (~600M lineitem
  rows, ~18 GB), on the sf30 key spaces;
- sf100_text: events, documents and embeddings into the same sf100
  directory (100M events, where the auto state-store rule flips to
  RocksDB; 2M vectors).

Output: testdata_<decade>/<table>.parquet at the repo root (gitignored;
sf100_text writes into testdata_sf100).  Deterministic — safe to rerun
(overwrites).

    python tools/make_sf1.py [decade ...]     # default: sf1
"""

from __future__ import annotations

import sys
from dataclasses import dataclass
from pathlib import Path

import duckdb

SRC = "/root/testdata/sf0.1"
REPO = Path(__file__).resolve().parent.parent

ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class Decade:
    src: str
    dst: str
    copies: int
    # per-copy key offsets, by key family
    stride: dict[str, int]
    # token-suffix marker for document text
    marker: str
    # (per-row, per-copy) coefficients of the embedding perturbation
    sin: tuple[int, int]
    tables: tuple[str, ...]


_SF1_STRIDE = {
    "order": 10_000_000,
    "cust": 1_000_000,
    "part": 1_000_000,
    "supp": 100_000,
    "event": 10_000_000,
    "doc": 100_000,
    "vec": 100_000,
}
_SF30_STRIDE = {k: v * 100 for k, v in _SF1_STRIDE.items()}

DECADES: dict[str, Decade] = {
    "sf1": Decade(
        SRC, "testdata_sf1", 10, _SF1_STRIDE, "_", (31, 7), ALL_TABLES
    ),
    "sf10": Decade(
        str(REPO / "testdata_sf1"),
        "testdata_sf10",
        10,
        {k: v * 10 for k, v in _SF1_STRIDE.items()},
        "~",
        (17, 13),
        ALL_TABLES,
    ),
    "sf30": Decade(
        str(REPO / "testdata_sf10"),
        "testdata_sf30",
        3,
        _SF30_STRIDE,
        "^",
        (19, 11),
        ("orders", "lineitem", "events", "documents", "embeddings"),
    ),
    # the relational tables on the sf30 key spaces (no text tables, so
    # marker and sin are those of sf100_text)
    "sf100": Decade(
        str(REPO / "testdata_sf10"),
        "testdata_sf100",
        10,
        _SF30_STRIDE,
        "@",
        (23, 13),
        ("orders", "lineitem"),
    ),
    "sf100_text": Decade(
        str(REPO / "testdata_sf10"),
        "testdata_sf100",
        10,
        {**_SF30_STRIDE, "event": 10**10, "doc": 10**8, "vec": 10**8},
        "@",
        (23, 13),
        ("events", "documents", "embeddings"),
    ),
}


def table_sql(d: Decade) -> dict[str, str]:
    """The replicate query of every table the decade writes, reading the
    source table as the view ``src``."""
    k, n = d.stride, d.copies
    text_i = (
        rf"regexp_replace(text, '(\s+)', '{d.marker}' || i || '\1', 'g')"
        rf" || '{d.marker}' || i"
    )
    a, b = d.sin
    sql = {
        "region": "SELECT * FROM src",
        "nation": "SELECT * FROM src",
        "customer": f"""
        SELECT c_custkey + i * {k['cust']} AS c_custkey, c_name, c_nationkey,
               c_acctbal, c_mktsegment
        FROM src, range({n}) t(i)
    """,
        "supplier": f"""
        SELECT s_suppkey + i * {k['supp']} AS s_suppkey, s_name, s_nationkey,
               s_acctbal
        FROM src, range({n}) t(i)
    """,
        "part": f"""
        SELECT p_partkey + i * {k['part']} AS p_partkey, p_name, p_brand,
               p_type, p_size, p_retailprice
        FROM src, range({n}) t(i)
    """,
        "orders": f"""
        SELECT o_orderkey + i * {k['order']} AS o_orderkey,
               o_custkey + i * {k['cust']} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM src, range({n}) t(i)
    """,
        "lineitem": f"""
        SELECT l_orderkey + i * {k['order']} AS l_orderkey,
               l_partkey + i * {k['part']} AS l_partkey,
               l_suppkey + i * {k['supp']} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM src, range({n}) t(i)
    """,
        "events": f"""
        SELECT event_id + i * {k['event']} AS event_id, ts,
               user_id + i * {k['cust']} AS user_id,
               event_type, value, props
        FROM src, range({n}) t(i)
    """,
        "documents": f"""
        SELECT doc_id + i * {k['doc']} AS doc_id,
               CASE WHEN i = 0 THEN text ELSE {text_i} END AS text,
               lang, source,
               length(CASE WHEN i = 0 THEN text ELSE {text_i} END)
                   AS n_chars
        FROM src, range({n}) t(i)
    """,
        "embeddings": f"""
        SELECT vec_id + i * {k['vec']} AS vec_id,
               CASE WHEN i = 0 THEN embedding ELSE
                   CAST([embedding[k] + 0.05 * sin(vec_id * {a} + i * {b} + k)
                         for k in range(1, len(embedding) + 1)] AS FLOAT[])
               END AS embedding,
               label
        FROM src, range({n}) t(i)
    """,
    }
    return {t: sql[t] for t in d.tables}


def make(name: str) -> None:
    d = DECADES[name]
    dst = REPO / d.dst
    dst.mkdir(exist_ok=True)
    con = duckdb.connect()
    for table, sql in table_sql(d).items():
        con.execute(
            f"CREATE OR REPLACE VIEW src AS "
            f"SELECT * FROM '{d.src}/{table}.parquet'"
        )
        out = dst / f"{table}.parquet"
        # Small row groups (20k rows vs DuckDB's 122,880 default) keep the
        # files SPLITTABLE: Spark parallelizes a parquet scan by byte
        # ranges aligned to row-group boundaries, and a miniature table
        # written as one jumbo row group caps every downstream stage at
        # one task regardless of cluster size — the opposite of the
        # many-file layout a real 100 TB dataset has.
        con.execute(
            f"COPY ({sql}) TO '{out}' (FORMAT PARQUET, ROW_GROUP_SIZE 20000)"
        )
        n = con.execute(f"SELECT COUNT(*) FROM '{out}'").fetchone()[0]
        print(f"{table}: {n} rows -> {out}")


def main(argv: list[str]) -> int:
    names = argv or ["sf1"]
    unknown = [n for n in names if n not in DECADES]
    if unknown:
        print(f"unknown decades {unknown}; choose from {list(DECADES)}")
        return 2
    for name in names:
        make(name)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
