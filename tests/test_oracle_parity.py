"""Mirror of the driver's t2 gate: every declared query with an oracle must
hash-match DuckDB at sf0.01; oracle-less queries must at least run and
return a stable schema."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from .oracle_harness import compare_query

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_oracle, name):
    fn = QUERIES[name]
    sql = ORACLES.get(name)
    if sql is None:
        df = fn(spark, sf_oracle)
        assert df.columns, f"{name}: no columns"
        assert df.count() >= 0
        return
    res = compare_query(spark, fn, sql, sf_oracle)
    assert res["cols_match"], f"{name}: column mismatch {res}"
    assert res["spark_rowcount"] == res["oracle_rowcount"], f"{name}: {res}"
    assert res["values_match"], f"{name}: value mismatch {res}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["p_partkey", "p_name", "spend", "total_qty"]


def test_every_oracle_has_query():
    assert set(ORACLES) <= set(QUERIES)


def test_no_unmaterialized_oracle_ctes():
    """Every CTE in every oracle must be AS MATERIALIZED.  DuckDB
    inlines plain CTEs at every reference site, and the optimizer's
    plan choice RE-ROLLS against regenerated fixtures each round: g25's
    oracle hung outright, and g06's survived five rounds before the r8
    fixture regen sent it to 200 s at sf0.01 (g12's flat self-join hit
    177 s the same day).  Materialization is result-identical and
    costless at oracle scale (all 180 oracles together: 12 s), so the
    invariant is blanket — new oracles comply or this test names them.
    WINDOW clauses (``WINDOW w AS (...)``) are not CTEs and are
    exempt."""
    import re
    offenders = {}
    for name, sql in ORACLES.items():
        bad = []
        for line in sql.splitlines():
            if "WINDOW" in line:
                continue
            # a MATERIALIZED def reads "x AS MATERIALIZED (" and cannot
            # match this pattern (the paren must follow AS directly)
            bad += re.findall(r"(\w+)[ \t]+AS[ \t]+\(", line)
        if bad:
            offenders[name] = sorted(set(bad))
    assert not offenders, (
        f"oracles with plain (un-MATERIALIZED) CTEs: {offenders}")


def test_no_hugeint_oracle_outputs(sf_oracle):
    """DuckDB silently widens integer sums (sum(INT/BIGINT) and windowed
    sums -> HUGEINT); a HUGEINT reaching an ORACLE OUTPUT column breaks
    the driver's value formatting even when every value is identical
    (the r6 s10 red).  Bind every oracle and assert no exposed column is
    HUGEINT — binding alone resolves types, so this is cheap."""
    from .oracle_harness import duckdb_connection
    con = duckdb_connection(sf_oracle)
    offenders = {}
    for name, sql in ORACLES.items():
        rel = con.sql(sql)
        hit = [f"{c}:{t}" for c, t in zip(rel.columns, map(str, rel.types))
               if "HUGEINT" in str(t)]
        if hit:
            offenders[name] = hit
    assert not offenders, (
        f"oracles exposing HUGEINT output columns (CAST ... AS BIGINT "
        f"at the last integer step): {offenders}")
