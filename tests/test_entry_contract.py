"""Local reproduction of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values."""

from __future__ import annotations

import math
import struct

import duckdb
import pytest

import __spark_entry__ as entry_mod
from document_retrieval_system_spark import entry_queries as eq
from document_retrieval_system_spark.plans.explain import formatted_plan

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    """Floats compare BIT-exact (verified achievable for every query):
    whatever normalization the driver's value hash uses, identical bits
    cannot mismatch."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return struct.pack(">d", v).hex()
    if isinstance(v, bool):
        return bool(v)
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # sort key stringifies cells so NULLs are orderable (the driver's
    # hash does the same: every cell becomes a string before sorting);
    # the compared values keep their types
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple("\x00NULL" if v is None else str(v) for v in t),
    ), [cols[i] for i in order]


ORACLE = entry_mod.oracle_sql()
ALL = entry_mod.queries()
# No checked-in scale reaches the 4 MB spread gate, so these entries run
# once more with the gate at 0: between them they read documents,
# embeddings and events through the round-robin spread.
SPREAD = ["i3_term_stats", "r1_tfidf_topk", "dedup_minhash_lsh", "emb_neardup",
          "events_json_props"]


@pytest.mark.parametrize(
    "name, spread",
    [pytest.param(n, False, id=n) for n in sorted(ORACLE)]
    + [pytest.param(n, True, id=f"{n}-spread") for n in SPREAD],
)
def test_query_matches_duckdb_oracle(spark, ddb, monkeypatch, name, spread):
    scans = []
    if spread:
        # every spread scan the entry reads must plan the round-robin
        # exchange (emb_neardup checkpoints its scan, so the final plan
        # alone cannot show it)
        monkeypatch.setattr(eq, "_SPREAD_MIN_BYTES", 0)
        real = eq._spread

        def spy(spark, df, path):
            out = real(spark, df, path)
            scans.append(formatted_plan(out))
            return out

        monkeypatch.setattr(eq, "_spread", spy)
    sdf = ALL[name](spark, SF_DIR)
    if spread:
        assert scans and all("RoundRobinPartitioning" in p for p in scans), name
    srows = sdf.collect()
    scols = sdf.columns

    res = ddb.sql(ORACLE[name])
    dcols = res.columns
    # Guard against DuckDB type promotions the driver's value-hash sees as a
    # schema/value difference even when fetched Python values compare equal
    # (sum(BIGINT) -> HUGEINT, numeric literal -> DECIMAL).  r1 lesson: i3/i4
    # hash-failed on exactly this while this test stayed green.
    bad = [
        (c, str(t))
        for c, t in zip(res.columns, res.types)
        if "HUGEINT" in str(t).upper() or "DECIMAL" in str(t).upper()
    ]
    assert not bad, f"{name}: oracle SQL yields driver-hash-unsafe types {bad}; cast them"
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} != {len(drows)}"
    sset, _ = _rowset(scols, [[r[c] for c in scols] for r in srows])
    dset, _ = _rowset(dcols, drows)
    if sset != dset:
        diff_a = [x for x in sset if x not in dset][:5]
        diff_b = [x for x in dset if x not in sset][:5]
        raise AssertionError(f"{name}: values differ\nspark-only={diff_a}\nduck-only={diff_b}")


@pytest.mark.parametrize(
    "name", sorted(set(ALL) - set(ORACLE)), ids=str
)
def test_rows_only_queries_run(spark, name):
    df = ALL[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
