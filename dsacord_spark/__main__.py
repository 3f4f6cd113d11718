"""CLI entrypoint — the drop-in equivalent of the reference binary
(/root/reference/main.go:43-57): same flag names, same env-var fallbacks,
same duplicate-strategy triple, same epilogue metrics (rows, elapsed,
table size). Run as `python -m dsacord_spark --from ... --to ...`.

Engine additions beyond the reference: `--sink parquet` (default — write
the typed decisions table to a date-partitioned lake dir instead of
Postgres, no DB required) and `--landing-dir` / `--master` knobs.
"""

from __future__ import annotations

import argparse
import sys
from datetime import date

from dsacord_spark.config import Config


def parse_args(argv: list[str] | None = None) -> tuple[Config, argparse.Namespace]:
    p = argparse.ArgumentParser(
        prog="dsacord-spark",
        description="Download Discord statements-of-reasons dumps from the "
        "EU DSA Transparency Database and load them (PySpark engine).",
    )
    # reference flags, names verbatim (main.go:47-56)
    p.add_argument("--dbhost", default=None, help="Database host")
    p.add_argument("--dbport", type=int, default=None, help="Database port")
    p.add_argument("--dbuser", default=None, help="Database user")
    p.add_argument("--dbpassword", default=None, help="Database password")
    p.add_argument("--dbname", default=None, help="Database name")
    p.add_argument("--from", dest="date_from", required=True,
                   help="Start date (YYYY-MM-DD)")
    p.add_argument("--to", dest="date_to", required=True,
                   help="End date (YYYY-MM-DD)")
    p.add_argument("--workers", type=int, default=1,
                   help="Download parallelism (max 5 recommended)")
    p.add_argument("--overwriteDuplicates", action="store_true",
                   help="Retry a failed unit as upsert on duplicate entries")
    p.add_argument("--skipCheckingDuplicates", action="store_true",
                   help="Always upsert (fastest when many duplicates)")
    # engine additions
    p.add_argument("--sink", choices=("parquet", "jdbc"), default="parquet",
                   help="parquet: date-partitioned lake dir (no DB); "
                   "jdbc: Postgres upsert sink like the reference")
    p.add_argument("--landing-dir", default=None, help="Staging directory")
    p.add_argument("--master", default=None, help="Spark master override")
    p.add_argument("--staging", choices=("driver", "distributed"),
                   default="driver",
                   help="driver: worker-pool downloads on the driver "
                   "(the reference's topology); distributed: each Spark "
                   "task downloads its slice of the URL table — use on "
                   "a real cluster with a DFS landing dir so a long "
                   "backfill isn't bounded by one node's NIC")
    p.add_argument("--rebuild", action="store_true",
                   help="Re-extract EVERY staged ZIP under the landing "
                   "dir and rewrite the whole decisions lake (full "
                   "rebuild); default processes only this run's days "
                   "and overwrites only their partitions")
    p.add_argument("--uuid-index-table", default=None, metavar="TABLE",
                   help="Bucketed uuid index for the parquet lake sink's "
                   "duplicate probe: bounds the daily anti-join to "
                   "index + batch-day reads instead of a full-lake uuid "
                   "scan (maintained automatically after each append; "
                   "created on first use)")
    a = p.parse_args(argv)

    if a.skipCheckingDuplicates:
        strategy = "always-upsert"
    elif a.overwriteDuplicates:
        strategy = "upsert-on-conflict"
    else:
        strategy = "error"

    cfg = Config(
        date_from=date.fromisoformat(a.date_from),
        date_to=date.fromisoformat(a.date_to),
        workers=a.workers,
        dup_strategy=strategy,
    )
    for flag, attr in [("dbhost", "db_host"), ("dbport", "db_port"),
                       ("dbuser", "db_user"), ("dbpassword", "db_password"),
                       ("dbname", "db_name")]:
        v = getattr(a, flag)
        if v is not None:
            setattr(cfg, attr, v)
    if a.landing_dir:
        cfg.landing_dir = a.landing_dir
    cfg.staging = a.staging
    cfg.uuid_index_table = a.uuid_index_table
    return cfg, a


def main(argv: list[str] | None = None) -> int:
    cfg, a = parse_args(argv)
    from dsacord_spark.pipeline import run_backfill
    from dsacord_spark.session import get_spark

    spark = get_spark(app_name="dsacord-spark", master=a.master)

    sink = None
    if a.sink == "jdbc":
        from dsacord_spark.sinks.jdbc import table_size_sql, write_batch

        def sink(df):  # noqa: F811 - deliberate: run_backfill's sink hook
            import psycopg2  # gated: only the jdbc path needs a driver

            def connect():
                return psycopg2.connect(
                    host=cfg.db_host, port=cfg.db_port, user=cfg.db_user,
                    password=cfg.db_password, dbname=cfg.db_name,
                )

            return write_batch(
                df, connect, strategy=cfg.dup_strategy,
                batch_size=cfg.jdbc_batch_size,
                num_partitions=cfg.sink_num_partitions,
            )

    metrics = run_backfill(spark, cfg, sink=sink, rebuild=a.rebuild)
    # epilogue, main.go:156-165 (exact counts — Q2 divergence)
    print(f"Inserted {metrics.rows_written} rows")
    print(f"Quarantined {metrics.rows_quarantined} rows (empty uuid)")
    print(f"Time elapsed: {metrics.elapsed_s:.3f}s")
    for err in metrics.day_errors:
        print(f"day error: {err}", file=sys.stderr)
    return 0 if not metrics.day_errors else 1


if __name__ == "__main__":
    raise SystemExit(main())
