"""K1-K4 sink semantics against a real (sqlite) database through the
DB-API seam: strategy triple, within-batch dedup, DDL/SQL generation.
sqlite speaks the same `ON CONFLICT (k) DO UPDATE SET c = EXCLUDED.c`
dialect, and raises 'UNIQUE constraint failed' which the 23505 sniffer
(main.go:196 equivalent) recognizes."""

from __future__ import annotations

import sqlite3

import pytest

from dsacord_spark.sinks.jdbc import (
    MAX_STATEMENT_PARAMS,
    create_table_ddl,
    dedup_batch,
    execute_chunks,
    insert_sql,
    is_unique_violation,
    table_size_sql,
    upsert_sql,
    write_batch,
)


def _sqlite_factory(db_path: str):
    """Connection factory usable inside the sink's Python workers
    (pickled to them): adapts paramstyle %s -> ?."""

    class Cur:
        def __init__(self, cur):
            self._cur = cur

        def execute(self, sql, params):
            self._cur.execute(sql.replace("%s", "?"), params)

    class Conn:
        def __init__(self):
            self._c = sqlite3.connect(db_path, timeout=30)

        def cursor(self):
            return Cur(self._c.cursor())

        def commit(self):
            self._c.commit()

        def rollback(self):
            self._c.rollback()

        def close(self):
            self._c.close()

    return Conn


def _make_df(spark, rows):
    return spark.createDataFrame(
        rows, "uuid string, account_type string, created_at string"
    )


@pytest.fixture()
def db(tmp_path):
    path = str(tmp_path / "sink.db")
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE decisions (uuid TEXT PRIMARY KEY, account_type TEXT, created_at TEXT)"
    )
    con.commit()
    con.close()
    return path


def _all(db):
    con = sqlite3.connect(db)
    rows = sorted(con.execute("SELECT uuid, account_type FROM decisions").fetchall())
    con.close()
    return rows


def test_error_strategy_plain_insert(spark, db):
    df = _make_df(spark, [("a", "t1", "2025-01-01 00:00:00"), ("b", "t2", None)])
    write_batch(df, _sqlite_factory(db), strategy="error", num_partitions=1)
    assert _all(db) == [("a", "t1"), ("b", "t2")]


def test_error_strategy_raises_on_duplicate(spark, db):
    df = _make_df(spark, [("a", "t1", None)])
    write_batch(df, _sqlite_factory(db), strategy="error", num_partitions=1)
    with pytest.raises(Exception, match="UNIQUE|23505|foreachPartition|Py4J"):
        write_batch(df, _sqlite_factory(db), strategy="error", num_partitions=1)


def test_upsert_on_conflict_retries_unit_as_upsert(spark, db):
    write_batch(
        _make_df(spark, [("a", "old", "2025-01-01 00:00:00")]),
        _sqlite_factory(db),
        strategy="error",
        num_partitions=1,
    )
    # overlapping second unit: optimistic insert fails -> whole-unit upsert
    df = _make_df(
        spark,
        [("a", "new", "2025-01-02 00:00:00"), ("c", "t3", "2025-01-02 00:00:00")],
    )
    write_batch(df, _sqlite_factory(db), strategy="upsert-on-conflict", num_partitions=1)
    assert _all(db) == [("a", "new"), ("c", "t3")]


def test_always_upsert_dedups_within_batch(spark, db):
    # same uuid twice in one epoch: keep-latest by created_at, single stmt row
    df = _make_df(
        spark,
        [
            ("a", "older", "2025-01-01 00:00:00"),
            ("a", "newer", "2025-06-01 00:00:00"),
            ("b", "t", None),
        ],
    )
    write_batch(df, _sqlite_factory(db), strategy="always-upsert", num_partitions=1)
    assert _all(db) == [("a", "newer"), ("b", "t")]


def test_dedup_batch_keeps_latest(spark):
    df = _make_df(
        spark,
        [("a", "older", "2025-01-01 00:00:00"), ("a", "newer", "2025-06-01 00:00:00")],
    )
    out = dedup_batch(df).collect()
    assert len(out) == 1 and out[0]["account_type"] == "newer"


def test_sql_generation():
    ddl = create_table_ddl()
    assert "CREATE TABLE IF NOT EXISTS decisions" in ddl[0]
    assert "uuid text PRIMARY KEY" in ddl[0]
    assert "decision_visibility text[]" in ddl[0]  # real arrays (Q1 divergence)
    assert any("idx_decisions_entity_id" in s for s in ddl[1:])
    ins = insert_sql("t", ["uuid", "x"])
    assert ins == "INSERT INTO t (uuid, x) VALUES (%s, %s)"
    ups = upsert_sql("t", ["uuid", "x"])
    assert "ON CONFLICT (uuid) DO UPDATE SET x = EXCLUDED.x" in ups
    assert "uuid = EXCLUDED" not in ups  # key not updated
    assert "pg_total_relation_size" in table_size_sql()


class _RecordingCursor:
    def __init__(self):
        self.statements = []

    def execute(self, sql, params):
        self.statements.append((sql, list(params)))


@pytest.mark.parametrize("ncols", [39, 3])
@pytest.mark.parametrize("batch_size", [1000, 5000])
@pytest.mark.parametrize("upsert", [False, True])
def test_execute_chunks_bounds_statements(ncols, batch_size, upsert):
    """One multi-row statement per chunk: no statement carries more than
    batch_size rows or more than MAX_STATEMENT_PARAMS parameters (39
    columns x 5000 rows would be 195k), and every row goes out once."""
    cols = ["uuid"] + [f"c{i}" for i in range(ncols - 1)]
    rows = [tuple(f"r{r}c{c}" for c in range(ncols)) for r in range(2500)]
    cur = _RecordingCursor()
    execute_chunks(cur, "t", cols, rows, batch_size, upsert)
    sent = []
    for sql, params in cur.statements:
        n = len(params) // ncols
        assert len(params) == n * ncols
        assert sql.count("%s") == len(params)
        assert sql.startswith("INSERT INTO t")
        assert ("ON CONFLICT (uuid)" in sql) == upsert
        assert n <= batch_size
        assert len(params) <= MAX_STATEMENT_PARAMS
        sent += [tuple(params[i : i + ncols]) for i in range(0, len(params), ncols)]
    assert sent == rows


def test_write_batch_returns_rows_written(spark, db):
    df = _make_df(
        spark,
        [("a", "t1", "2025-01-01 00:00:00"), ("a", "t2", "2025-02-01 00:00:00"),
         ("b", "t3", None), ("c", "t4", None)],
    )
    n = write_batch(df, _sqlite_factory(db), strategy="always-upsert",
                    batch_size=2, num_partitions=2)
    assert n == 3 == len(_all(db))


def test_unique_violation_sniffer():
    assert is_unique_violation(Exception("ERROR: SQLSTATE 23505 dup"))
    assert is_unique_violation(sqlite3.IntegrityError("UNIQUE constraint failed: t.u"))
    assert not is_unique_violation(Exception("connection refused"))


def test_bucketed_tables_join_without_exchange(spark):
    """write_bucketed layout contract, demonstrated mechanically: two
    tables bucketed by the join key into the same bucket count join via
    SortMergeJoin with ZERO Exchange in the physical plan (the bucketed
    scans report HashPartitioning(n)). With one file per bucket AND the
    legacy bucketedTableScan.outputOrdering conf, the defensive Sort
    above the scans is elided too — the join becomes fully local. This
    is the claim plans/composite.py makes for the TPC-H join chains at
    100 TB, pinned on the actual plan in both configurations."""
    import re

    from dsacord_spark.sinks.parquet import write_bucketed

    # coalesce(1): one file per bucket, the precondition for the
    # sorted-scan ordering claim below
    orders = spark.range(0, 1000).selectExpr(
        "id AS o_orderkey", "id % 7 AS o_custkey"
    ).coalesce(1)
    items = spark.range(0, 3000).selectExpr(
        "id % 1000 AS l_orderkey", "id AS l_qty"
    ).coalesce(1)
    write_bucketed(orders, "t_orders_b", ["o_orderkey"], 8,
                   sort_cols=["o_orderkey"])
    write_bucketed(items, "t_items_b", ["l_orderkey"], 8,
                    sort_cols=["l_orderkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ord_key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def plan_of():
            j = spark.table("t_orders_b").join(
                spark.table("t_items_b"),
                spark.table("t_orders_b")["o_orderkey"]
                == spark.table("t_items_b")["l_orderkey"],
            )
            assert j.count() == 3000
            return j._jdf.queryExecution().executedPlan().toString()

        # default: co-located (no Exchange) but a defensive Sort remains
        plan = plan_of()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # opt-in sorted-bucket scan: the Sort is elided too
        spark.conf.set(ord_key, "true")
        plan2 = plan_of()
        assert "Exchange" not in plan2, plan2
        assert not re.search(r"\bSort\b", plan2), plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset(ord_key)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_items_b")
