"""Emulate the driver's correctness gate: run every queries() entry at
sf0.01 and compare against its DuckDB oracle (row count + column names +
order-insensitive values)."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, bool):
        return int(v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return str(v.normalize())
    except ImportError:
        pass
    return v


def _sort_key(row):
    # None-safe, engine-independent total order
    return tuple((v is None, str(type(v)), str(v)) for v in row)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(normed, key=_sort_key), [cols[i] for i in order]


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, ddb):
    assert name in QUERIES, f"oracle without query: {name}"
    sdf = QUERIES[name](spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    res = ddb.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    s_rows, s_cols = _normalize(spark_rows, spark_cols)
    d_rows, d_cols = _normalize(duck_rows, duck_cols)

    assert s_cols == d_cols, f"{name}: columns {s_cols} != {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} != {len(d_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_rows, d_rows) if a != b
    ][:5]
    assert not mismatches, f"{name}: first mismatches {mismatches}"


def test_queries_without_oracle_return_rows(spark):
    no_oracle = sorted(set(QUERIES) - set(ORACLES))
    # simhash is the one genuinely hash-specific operator (xxhash64 has no
    # DuckDB counterpart); its invariants are unit-tested in
    # tests/test_operators_misc.py instead
    assert set(no_oracle) <= {"dedup_simhash"}
    for name in no_oracle:
        df = QUERIES[name](spark, SF_DIR)
        assert df.count() >= 0


def test_kg_queries_share_one_pipeline_run(spark, monkeypatch):
    """All 18 kg_* queries read ONE cached pipeline run per sf_dir (the
    driver builds one kg pipeline, not one per former mode)."""
    from wikiprep_spark.plans import queries as q

    runs = []
    real = q.run_pipeline

    def counting(*args, **kwargs):
        runs.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(q, "run_pipeline", counting)
    kg = sorted(n for n in QUERIES if n.startswith("kg_"))
    assert len(kg) == 18
    for name in kg:
        QUERIES[name](spark, SF_DIR)
    # zero runs when an earlier test already populated the cache
    assert len(runs) <= 1
    assert [k for k in q._PIPELINE_CACHE if SF_DIR in k] == [
        (id(spark), SF_DIR)]
