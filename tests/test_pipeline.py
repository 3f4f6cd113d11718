"""End-to-end backfill: URL generation -> staged download (fake HTTP) ->
nested-zip extraction -> typed transform -> dedup -> parquet sink ->
metrics, with one day 403ing (isolated, run continues — main.go:137-144)."""

from __future__ import annotations

import io
import urllib.error
import zipfile
from datetime import date

from dsacord_spark.config import Config
from dsacord_spark.pipeline import run_backfill
from tests.test_ingest import HEADER, _FULL_ROW, _csv_row


def _day_zip(uuid: str) -> bytes:
    row = dict(_FULL_ROW)
    row["uuid"] = uuid
    csv_data = HEADER + "\n" + _csv_row(row) + "\n" + _csv_row(row) + "\n"  # dup row
    inner = io.BytesIO()
    with zipfile.ZipFile(inner, "w") as zf:
        zf.writestr("d.csv", csv_data)
    outer = io.BytesIO()
    with zipfile.ZipFile(outer, "w") as zf:
        zf.writestr("inner.zip", inner.getvalue())
    return outer.getvalue()


class _Resp(io.BytesIO):
    status = 200

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


def test_run_backfill_end_to_end(spark, tmp_path):
    served = {
        "2025-01-01": _day_zip("day1-row"),
        "2025-01-03": _day_zip("day3-row"),
    }

    def opener(url):
        for dt, data in served.items():
            if dt in url:
                return _Resp(data)
        raise urllib.error.HTTPError(url, 403, "forbidden", None, None)  # day 2

    cfg = Config(
        date_from=date(2025, 1, 1),
        date_to=date(2025, 1, 3),
        landing_dir=str(tmp_path / "landing"),
    )
    metrics = run_backfill(spark, cfg, opener=opener)

    assert metrics.rows_written == 2            # dup rows within day deduped
    assert metrics.rows_quarantined == 0
    assert len(metrics.day_errors) == 1         # the 403 day, isolated
    assert "forbidden" in metrics.day_errors[0]

    out = spark.read.parquet(str(tmp_path / "landing" / "decisions"))
    assert sorted(r["uuid"] for r in out.select("uuid").collect()) == [
        "day1-row",
        "day3-row",
    ]


def _backfill_counting_extraction(spark, tmp_path, monkeypatch, served, sink=None):
    """run_backfill over days 2025-01-01..02 served from `served`;
    returns (metrics, wire rows the extraction emitted), counted in a
    Spark accumulator so a re-executed dataflow shows as a multiple."""
    from dsacord_spark.sources import zipsource

    def opener(url):
        for dt, data in served.items():
            if dt in url:
                return _Resp(data)
        raise AssertionError(f"unexpected url {url}")

    rows_emitted = spark.sparkContext.accumulator(0)
    orig_extract = zipsource.extract_zip_arrow

    def counting_extract(it):
        for rb in orig_extract(it):
            rows_emitted.add(rb.num_rows)
            yield rb

    monkeypatch.setattr(zipsource, "extract_zip_arrow", counting_extract)

    cfg = Config(
        date_from=date(2025, 1, 1),
        date_to=date(2025, 1, 2),
        landing_dir=str(tmp_path / "landing"),
    )
    metrics = run_backfill(spark, cfg, sink=sink, opener=opener)
    return metrics, rows_emitted.value


def test_default_sink_runs_extraction_exactly_once(spark, tmp_path, monkeypatch):
    """r7 verdict #2: the default sink used to count the dataflow and then
    write it — executing the binaryFile->zip->CSV->transform pipeline
    twice. Pin single execution by counting every wire row the extraction
    emits in a Spark accumulator: 2 days x 2 CSV rows = 4; a re-executed
    dataflow would double it."""
    served = {"2025-01-01": _day_zip("d1"), "2025-01-02": _day_zip("d2")}
    metrics, rows_emitted = _backfill_counting_extraction(
        spark, tmp_path, monkeypatch, served  # default sink
    )
    assert metrics.rows_written == 2        # one per day after dedup
    assert rows_emitted == 4                # 2 wire rows/day, extracted ONCE
    assert metrics.rows_quarantined == 0    # observe populated by the write


def test_write_batch_sink_runs_extraction_exactly_once(spark, tmp_path, monkeypatch):
    """A custom sink whose first action is `write_batch`'s mapInArrow
    write completes the dq observation, so run_backfill reads the exact
    quarantined count from it instead of re-running the extraction to
    count the quarantined split: 2 days x 2 wire rows = 4, once."""
    import sqlite3

    from pyspark.sql import functions as F

    from dsacord_spark.sinks.jdbc import write_batch
    from tests.test_sink import _sqlite_factory

    db = str(tmp_path / "sink.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE decisions (uuid TEXT PRIMARY KEY, category TEXT, created_at TEXT)")
    con.commit()
    con.close()

    def sink(df):
        df = df.select("uuid", "category", F.col("created_at").cast("string").alias("created_at"))
        return write_batch(df, _sqlite_factory(db), strategy="always-upsert", num_partitions=2)

    served = {"2025-01-01": _day_zip("d1"), "2025-01-02": _day_zip("")}
    metrics, rows_emitted = _backfill_counting_extraction(
        spark, tmp_path, monkeypatch, served, sink=sink
    )
    con = sqlite3.connect(db)
    stored = con.execute("SELECT uuid FROM decisions").fetchall()
    con.close()
    assert stored == [("d1",)]
    assert metrics.rows_written == 1        # write_batch's own count
    assert metrics.rows_quarantined == 2    # day 2's empty-uuid pair
    assert rows_emitted == 4                # extracted ONCE, no recount


def test_default_sink_handles_all_quarantined_empty_write(spark, tmp_path):
    """r8 review: a run whose every row is quarantined (empty uuid)
    writes an empty lake — rows_written must be 0, not an
    AnalysisException from reading back a data-less parquet dir."""
    metrics = run_backfill(
        spark,
        Config(
            date_from=date(2025, 1, 1),
            date_to=date(2025, 1, 1),
            landing_dir=str(tmp_path / "landing"),
        ),
        opener=lambda url: _Resp(_day_zip("")),  # empty uuid -> quarantined
    )
    assert metrics.rows_written == 0
    assert metrics.rows_quarantined == 2  # the dup pair, both quarantined
    assert metrics.day_errors == []


def _day_zip_at(uuid: str, created_at: str) -> bytes:
    """_day_zip with a controllable created_at so each dump day lands in
    its own dt= lake partition (the scoping tests below need disjoint
    day partitions)."""
    row = dict(_FULL_ROW)
    row["uuid"] = uuid
    row["created_at"] = created_at
    csv_data = HEADER + "\n" + _csv_row(row) + "\n"
    inner = io.BytesIO()
    with zipfile.ZipFile(inner, "w") as zf:
        zf.writestr("d.csv", csv_data)
    outer = io.BytesIO()
    with zipfile.ZipFile(outer, "w") as zf:
        zf.writestr("inner.zip", inner.getvalue())
    return outer.getvalue()


def test_run_backfill_scopes_to_this_runs_days(spark, tmp_path):
    """r8 verdict #2: a second run with a NEW range into a SHARED landing
    dir must process (and count) only its own staged days — not
    re-extract and re-write every previously staged day — and must leave
    earlier runs' lake rows in place EVEN IN A SHARED dt PARTITION (the
    lake partitions on created_at, not the dump day, so run B's rows can
    land in run A's partition — r9 review: a partition overwrite would
    clobber; the anti-join append must not). Replaying a day appends
    nothing and counts 0."""
    landing = str(tmp_path / "landing")

    def opener_a(url):
        assert "2025-01-01" in url, f"run A staged unexpected url {url}"
        return _Resp(_day_zip_at("rowA", "2025-01-01 00:00:00"))

    def opener_b(url):
        assert "2025-01-02" in url, f"run B staged unexpected url {url}"
        # created_at deliberately in run A's day partition
        return _Resp(_day_zip_at("rowB", "2025-01-01 12:00:00"))

    m_a = run_backfill(
        spark,
        Config(date_from=date(2025, 1, 1), date_to=date(2025, 1, 1),
               landing_dir=landing),
        opener=opener_a,
    )
    assert m_a.rows_written == 1

    cfg_b = Config(date_from=date(2025, 1, 2), date_to=date(2025, 1, 2),
                   landing_dir=landing)
    m_b = run_backfill(spark, cfg_b, opener=opener_b)
    assert m_b.rows_written == 1  # counts ONLY run B's day, not A's

    lake = spark.read.parquet(landing + "/decisions")
    assert sorted(r["uuid"] for r in lake.select("uuid").collect()) == [
        "rowA", "rowB",  # B appended INTO A's dt partition without clobbering
    ]

    # replaying run B: the uuid anti-join appends nothing, counts 0
    m_b2 = run_backfill(spark, cfg_b, opener=opener_b)
    assert m_b2.rows_written == 0
    assert spark.read.parquet(landing + "/decisions").count() == 2

    # the escape hatch: rebuild=True re-extracts EVERY staged ZIP under
    # the landing dir and rewrites the whole lake (old semantics)
    m_c = run_backfill(
        spark,
        Config(date_from=date(2025, 1, 2), date_to=date(2025, 1, 2),
               landing_dir=landing),
        opener=opener_b,
        rebuild=True,
    )
    assert m_c.rows_written == 2  # both staged days reprocessed
    lake = spark.read.parquet(landing + "/decisions")
    assert lake.count() == 2


def test_run_backfill_distributed_staging_end_to_end(spark, tmp_path):
    """r8 verdict #3: cfg.staging='distributed' routes the backfill's
    downloads through stage_range_distributed (Spark tasks, multi-node
    NIC) — same results, metrics, and per-day error isolation as the
    driver pool. The fake transport is defined in-test so cloudpickle
    ships it to the Python workers BY VALUE (a test-module-level def
    pickles by reference to a module the workers cannot import)."""
    served = {
        "2025-02-01": _day_zip("dist-day1"),
        "2025-02-03": _day_zip("dist-day3"),
    }

    class _R(io.BytesIO):
        status = 200

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    def dist_opener(url):
        for dt, data in served.items():
            if dt in url:
                return _R(data)
        raise urllib.error.HTTPError(url, 403, "forbidden", None, None)

    cfg = Config(
        date_from=date(2025, 2, 1),
        date_to=date(2025, 2, 3),
        landing_dir=str(tmp_path / "landing"),
        staging="distributed",
    )
    metrics = run_backfill(spark, cfg, opener=dist_opener)

    assert metrics.rows_written == 2            # dup rows within day deduped
    assert len(metrics.day_errors) == 1         # the 403 day, isolated
    assert "forbidden" in metrics.day_errors[0]
    out = spark.read.parquet(str(tmp_path / "landing" / "decisions"))
    assert sorted(r["uuid"] for r in out.select("uuid").collect()) == [
        "dist-day1", "dist-day3",
    ]


def test_config_rejects_unknown_staging():
    import pytest

    with pytest.raises(ValueError, match="staging"):
        Config(date_from=date(2025, 1, 1), date_to=date(2025, 1, 1),
               staging="carrier-pigeon").validate()
