"""K1-K4 — the Postgres sink with the reference's duplicate-strategy
triple (/root/reference/utils.go:88-119, main.go:194-204).

Strategies (config.DUP_STRATEGIES):
- error:              plain batched INSERT; duplicate key surfaces as an
                      error (reference default path, utils.go:107)
- upsert-on-conflict: optimistic INSERT, and iff a unique violation
                      (SQLSTATE 23505) occurs, retry the whole unit as an
                      upsert (--overwriteDuplicates, main.go:194-204)
- always-upsert:      INSERT ... ON CONFLICT (uuid) DO UPDATE SET ... on
                      every batch (--skipCheckingDuplicates,
                      utils.go:99-104) — idempotent, the streaming default

Spark's JDBC writer has no upsert mode, so `write_batch` runs as one
DataFrame action: `mapInArrow` hands each sink partition's rows to a
Python writer as Arrow batches, and the writer talks to the database
through a DB-API connection per partition (psycopg if installed —
hence the gated import and an injectable connection factory; tests use
sqlite/fakes). The streaming path calls it from `foreachBatch`.

Scale notes: sink parallelism is capped by `num_partitions` (the
reference advises <= 5 workers against Postgres, main.go:54); each chunk
of at most `batch_size` rows (1000 matches utils.go:89) goes out as ONE
multi-row INSERT, as gorm's CreateInBatches sends it, bounded so no
statement binds more than MAX_STATEMENT_PARAMS values; within a batch
rows are deduped on the upsert key first (keep-latest) so ON CONFLICT
never sees the same key twice in one statement (Postgres would reject
it) — this also encodes the epoch-level dedup required for exactly-once
streaming replay.
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, Window as W, functions as F
from pyspark.sql.types import TimestampType

from dsacord_spark.schema import DECISIONS_SCHEMA, SINK_INDEX_COLUMNS, UPSERT_KEY

# psycopg binds parameters server-side, and the wire protocol counts a
# statement's parameters in 16 bits
MAX_STATEMENT_PARAMS = 65535

_SPARK_TO_PG = {
    "string": "text",
    "boolean": "boolean",
    "timestamp": "timestamp",
    "array<string>": "text[]",
}


def pg_type(spark_type: str) -> str:
    return _SPARK_TO_PG.get(spark_type, spark_type)


def create_table_ddl(table: str = "decisions") -> list[str]:
    """K4 — AutoMigrate equivalent (main.go:95-97): CREATE TABLE IF NOT
    EXISTS + the EntityID index (types.go:63)."""
    cols = ",\n  ".join(
        f"{f.name} {pg_type(f.dataType.simpleString())}"
        + (" PRIMARY KEY" if f.name == UPSERT_KEY else "")
        for f in DECISIONS_SCHEMA.fields
    )
    stmts = [f"CREATE TABLE IF NOT EXISTS {table} (\n  {cols}\n)"]
    for ix in SINK_INDEX_COLUMNS:
        stmts.append(
            f"CREATE INDEX IF NOT EXISTS idx_{table}_{ix} ON {table} ({ix})"
        )
    return stmts


def insert_sql(table: str, columns: list[str], rows: int = 1) -> str:
    """INSERT of `rows` rows in one VALUES list (%s placeholders)."""
    row = "(" + ", ".join(["%s"] * len(columns)) + ")"
    return f"INSERT INTO {table} ({', '.join(columns)}) VALUES {', '.join([row] * rows)}"


def upsert_sql(
    table: str, columns: list[str], key: str = UPSERT_KEY, rows: int = 1
) -> str:
    """K2 — gorm clause.OnConflict{UpdateAll: true} equivalent
    (utils.go:100-104)."""
    updates = ", ".join(
        f"{c} = EXCLUDED.{c}" for c in columns if c != key
    )
    return (
        f"{insert_sql(table, columns, rows)} "
        f"ON CONFLICT ({key}) DO UPDATE SET {updates}"
    )


def table_size_sql(table: str = "decisions") -> str:
    """A2 — end-of-run size probe (main.go:162-165)."""
    return f"SELECT pg_size_pretty(pg_total_relation_size('{table}'))"


def dedup_batch(df: DataFrame, key: str = UPSERT_KEY) -> DataFrame:
    """Within-batch keep-latest on the upsert key (ON CONFLICT requires
    each key at most once per statement; order: latest created_at wins,
    mirroring UpdateAll's last-write semantics)."""
    w = W.partitionBy(key).orderBy(
        F.col("created_at").desc_nulls_last(), F.col(UPSERT_KEY).asc()
    )
    return df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__rn")


def is_unique_violation(exc: Exception) -> bool:
    """The reference sniffs 'SQLSTATE 23505' in the error text
    (main.go:196); DB-API exceptions expose pgcode/sqlstate attrs too."""
    code = getattr(exc, "sqlstate", None) or getattr(exc, "pgcode", None)
    if code == "23505":
        return True
    return "23505" in str(exc) or "UNIQUE constraint failed" in str(exc)


def execute_chunks(
    cur, table: str, columns: list[str], rows: list[tuple],
    batch_size: int, upsert: bool,
) -> None:
    """One multi-row INSERT (or upsert) per chunk of at most `batch_size`
    rows (utils.go:89,92-97), and of at most MAX_STATEMENT_PARAMS bound
    values."""
    per_stmt = max(1, min(batch_size, MAX_STATEMENT_PARAMS // len(columns)))
    build = upsert_sql if upsert else insert_sql
    for i in range(0, len(rows), per_stmt):
        chunk = rows[i : i + per_stmt]
        cur.execute(
            build(table, columns, rows=len(chunk)),
            [v for row in chunk for v in row],
        )


def _arrow_rows(batches) -> list[tuple]:
    """Rows of Arrow record batches as Python tuples, with the values a
    pickled Row would carry: Arrow hands timestamps over tz-aware, so
    they go through TimestampType.fromInternal, as the Row path's do,
    and bind as the same naive local datetimes."""
    from_ts = TimestampType().fromInternal
    rows: list[tuple] = []
    for batch in batches:
        cols = []
        for col in batch.columns:
            if pa.types.is_timestamp(col.type) and col.type.tz is not None:
                micros = col.cast(pa.timestamp("us", col.type.tz)).cast(pa.int64())
                cols.append([from_ts(v) for v in micros.to_pylist()])
            else:
                cols.append(col.to_pylist())
        rows.extend(zip(*cols))
    return rows


def write_batch(
    df: DataFrame,
    connection_factory: Callable,
    table: str = "decisions",
    strategy: str = "error",
    batch_size: int = 1000,
    num_partitions: int = 5,
) -> int:
    """K1/K3 — partition-parallel batched write with strategy handling;
    returns the number of rows written.

    One DataFrame action: `mapInArrow` over `num_partitions` partitions,
    one DB transaction per partition (the reference's one-txn-per-ZIP,
    utils.go:91, mapped to Spark's unit of parallelism), one multi-row
    statement per chunk (`execute_chunks`). Being a Dataset action, it
    completes the observations on `df`'s lineage when it returns."""
    if strategy not in ("error", "upsert-on-conflict", "always-upsert"):
        raise ValueError(f"unknown strategy {strategy!r}")
    deduped = dedup_batch(df) if strategy != "error" else df
    cols = [c for c in deduped.columns if not c.startswith("_source")]

    def write_partition(batches):
        rows = _arrow_rows(batches)
        if rows:
            conn = connection_factory()
            try:
                cur = conn.cursor()
                try:
                    execute_chunks(cur, table, cols, rows, batch_size,
                                   strategy == "always-upsert")
                    conn.commit()
                except Exception as exc:
                    conn.rollback()
                    if strategy == "upsert-on-conflict" and is_unique_violation(exc):
                        # K3: retry the whole unit as an upsert (main.go:198-204)
                        execute_chunks(cur, table, cols, rows, batch_size, True)
                        conn.commit()
                    else:
                        raise
            finally:
                conn.close()
        yield pa.RecordBatch.from_pydict({"n": pa.array([len(rows)], pa.int64())})

    written = (
        deduped.select(*cols)
        .coalesce(num_partitions)
        .mapInArrow(write_partition, "n long")
        .collect()
    )
    return sum(r["n"] for r in written)


def pg_connection_factory(
    dsn: str | None = None,
    socket_dir: str | None = None,
    port: int = 5432,
    user: str = "postgres",
    dbname: str = "postgres",
) -> Callable:
    """Best-available Postgres connection factory for `write_batch`:
    psycopg (production) when importable, else the bundled pure-Python
    wire client (sinks/pgwire.py — trust-auth unix socket only). The
    returned zero-arg callable is what write_batch ships to executors,
    so it must be picklable: it closes over plain strings only."""
    if dsn is None and socket_dir is None:
        raise ValueError(
            "pg_connection_factory needs a dsn or a socket_dir — failing "
            "fast here beats a per-task 'could not translate host \"None\"' "
            "on every executor"
        )
    try:  # pragma: no cover - psycopg not in this container
        import psycopg

        conn_str = dsn or f"host={socket_dir} port={port} user={user} dbname={dbname}"

        def _psycopg_factory():
            return psycopg.connect(conn_str, autocommit=False)

        return _psycopg_factory
    except ImportError:
        if socket_dir is None:
            raise ValueError(
                "pgwire fallback needs socket_dir (unix-socket trust auth)"
            )

        def _pgwire_factory(
            _dir=socket_dir, _port=port, _user=user, _db=dbname
        ):
            from dsacord_spark.sinks.pgwire import connect

            return connect(_dir, port=_port, user=_user, dbname=_db)

        return _pgwire_factory

