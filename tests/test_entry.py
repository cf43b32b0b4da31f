"""Driver-contract smoke tests."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_contract_shapes(spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert qs, "queries() must not be empty"
    for name in oracles:
        assert name in qs, f"oracle {name} has no matching query"


def test_each_query_runs_sf0001(spark, sf_dir):
    for name, fn in entry_mod.queries().items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        df.limit(1).collect()


def test_oracle_types_are_portable(sf_dir):
    """No oracle may emit a DuckDB-exotic result type (HUGEINT/DECIMAL/
    unsigned). DuckDB SUM(integer) returns HUGEINT (int128); an Arrow-based
    comparator fetches that as decimal128 while a fetchall-based one sees a
    plain int, so the same values hash differently across harnesses. Wrap
    integer SUMs in CAST(... AS BIGINT) on the oracle side (round-1 verdict:
    q_timebank_discrepancy / q_update_submitter / q_media_stats)."""
    import os

    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    exotic_markers = (
        "HUGEINT",
        "DECIMAL",
        "UINTEGER",
        "UBIGINT",
        "USMALLINT",
        "UTINYINT",
        # The driver canonicalizes results via pandas sort_values, which
        # raises "unhashable type" on list/struct cells (round-2 verdict:
        # q_embedding_quantize). Serialize nested values to strings
        # (ARRAY_TO_STRING / to_json) on both sides.
        "[]",
        "STRUCT",
        "MAP",
    )
    offenders = []
    for name, sql in entry_mod.oracle_sql().items():
        rel = con.sql(sql)
        for c, ty in zip(rel.columns, rel.types):
            if any(m in str(ty) for m in exotic_markers):
                offenders.append(f"{name}.{c}: {ty}")
    assert not offenders, offenders


@pytest.fixture(scope="module")
def oracle_hash(sf_dir):
    """(sorted columns, value hash) of a query's DuckDB oracle at ``sf_dir``,
    run once per distinct oracle SQL for the module (queries may share one)."""
    import os

    import duckdb

    from data_rivers_spark.plans import registry
    from tools.check_oracle import TABLES, value_hash

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    memo: dict[str, tuple[list[str], str]] = {}

    def get(name: str) -> tuple[list[str], str]:
        sql = registry.ORACLES[name]
        if sql not in memo:
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            memo[sql] = (sorted(cols), value_hash(cols, res.fetchall()))
        return memo[sql]

    return get


@pytest.mark.parametrize(
    "name", ["q_incremental_dedup", "q_incremental_dedup_grouped"]
)
def test_query_matches_oracle_hash(spark, sf_dir, oracle_hash, name):
    """A query's collected rows hash-equal its DuckDB oracle (the
    tools/check_oracle.py comparison, order-insensitive)."""
    from tools.check_oracle import value_hash

    df = entry_mod.queries()[name](spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    assert (sorted(df.columns), value_hash(df.columns, rows)) == oracle_hash(name)
