"""End-to-end batch pipeline — the Spark formulation of the reference's
whole program (/root/reference/main.go:58-171, SURVEY §3.1):

config -> validate -> URL table (S1) -> stage ZIPs with backoff (S2) ->
extract nested ZIPs/CSVs (S3-S5) -> typed transform (P1/F1-F5) ->
quarantine split (Q5) -> dedup -> sink (K1-K4) -> run metrics (O5).

The reference's channel/goroutine topology disappears: Spark schedules
the staged-file partitions; per-day error isolation (O3) lives in the
stager's returned error list; metrics come from df.observe instead of a
racy atomic counter (Q2 divergence).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from dsacord_spark.config import Config
from dsacord_spark.sinks.jdbc import dedup_batch
from dsacord_spark.sinks.parquet import write_decisions_parquet
from dsacord_spark.sources.stager import stage_range, stage_range_distributed
from dsacord_spark.sources.urlgen import url_table
from dsacord_spark.sources.zipsource import read_staged_zips
from dsacord_spark.transform import (
    decisions_transform, observation_ready, split_quarantine, with_dq_metrics,
)


@dataclass
class RunMetrics:
    """O5 (main.go:156-165): rows, elapsed, quarantined; exact, not
    over-counted (Q2)."""

    rows_written: int = 0
    rows_quarantined: int = 0
    elapsed_s: float = 0.0
    day_errors: list[str] = field(default_factory=list)


def run_backfill(
    spark: SparkSession,
    cfg: Config,
    sink=None,
    opener=None,
    rebuild: bool = False,
) -> RunMetrics:
    """One-shot date-range run (== `./dsacord --from --to ...`).

    `sink(valid_df) -> int` writes the deduped valid rows and returns the
    written count; defaults to the date-partitioned parquet sink under
    cfg.landing_dir + '/decisions'. `opener` injects the HTTP transport
    (tests use fakes; production uses urllib).

    rows_quarantined comes from the dq observation the sink's first
    action completes. A custom sink whose first action reads the whole
    frame as a Dataset action (`jdbc.write_batch`, a DataFrame write)
    gets the count for free; after one that runs no action, or only RDD
    actions such as `foreachPartition`, the quarantined split is counted
    in one more pass over the extraction.

    Scope: processes THIS RUN's staged ZIPs (the path list stage_range
    returns), so re-running with a new date range into a shared landing
    dir neither re-extracts nor re-counts previously staged days (r8
    verdict: at scale a daily run must not rescan the lake's whole
    landing dir); the default sink dynamic-partition-overwrites only
    this run's day partitions, leaving other days' lake data in place.
    `rebuild=True` is the escape hatch with the old full-rebuild
    semantics: re-extract EVERY staged ZIP under the landing dir and
    rewrite the whole decisions lake (static overwrite).

    cfg.staging picks the download topology (O1): 'driver' runs the
    reference's worker pool (ThreadPoolExecutor(cfg.workers)); on
    'distributed' each Spark task downloads its slice of the URL table
    straight into the (DFS-visible) landing dir, so a multi-year
    backfill isn't bounded by one node's NIC."""
    t0 = time.monotonic()
    warnings = cfg.validate()
    for w in warnings:
        print(f"warning: {w}")

    url_df = url_table(spark, cfg.date_from, cfg.date_to, cfg.workers)
    if cfg.staging == "distributed":
        staged = stage_range_distributed(
            url_df,
            cfg.landing_dir,
            **({"opener": opener} if opener else {}),
        )
    else:
        urls = [(r["dt"], r["url"]) for r in url_df.collect()]
        staged = stage_range(
            urls,
            cfg.landing_dir,
            workers=cfg.workers,
            **({"opener": opener} if opener else {}),
        )
    metrics = RunMetrics(day_errors=[e for _, e in staged if e])

    staged_paths = [p for p, _ in staged if p]
    if not staged_paths:
        metrics.elapsed_s = time.monotonic() - t0
        return metrics

    wire = read_staged_zips(
        spark, cfg.landing_dir if rebuild else staged_paths
    )
    typed, dq = with_dq_metrics(decisions_transform(wire))
    valid, quarantined = split_quarantine(typed)
    deduped = dedup_batch(valid)
    # second observation, populated by the sink's own action so
    # rows_written is exact (Q2/O5) with ZERO extra passes — no
    # pre-write count (the r7 double-compute defect) and no post-write
    # read-back (which crashes on an all-quarantined empty write and
    # over-counts stale days — r8 review findings). WHERE it attaches
    # depends on the sink: the daily default appends through a
    # uuid-anti-join (append_new_decisions), so the observation must sit
    # BELOW that join to count rows actually appended — a replayed day
    # contributes 0, not its batch size.
    from pyspark.sql import Observation

    written_obs = Observation("written")
    custom_sink = sink is not None

    if sink is None:
        out = cfg.landing_dir.rstrip("/") + "/decisions"
        if rebuild:
            deduped = deduped.observe(
                written_obs, F.count(F.lit(1)).alias("n")
            )

        def _lake_rows() -> int:
            # footer-metadata count: parquet row counts come from file
            # footers (no data pages read), so this is file-count-sized
            try:
                return spark.read.parquet(out).count()
            except Exception:
                return 0  # lake dir absent: first run / empty write

        def sink(df: DataFrame) -> int:
            if rebuild:
                if cfg.uuid_index_table:
                    # the index was built from the PREVIOUS lake; if the
                    # rebuild drops uuids (changed quarantine rules,
                    # removed dumps) it would retain phantom keys with
                    # no row behind them, and the orphan guard in
                    # append_new_decisions only fires when the lake PATH
                    # is absent — subsequent daily appends would silently
                    # anti-join valid new rows away (permanent row
                    # loss; r10 ADVICE). Drop it BEFORE the overwrite
                    # (r11 review): drop-after left a crash window —
                    # overwrite done, driver dead before the drop —
                    # that recreated the phantom-key state; drop-first
                    # is safe in every interleaving, since a missing
                    # index merely makes the next append bootstrap it
                    # from whatever lake exists.
                    spark.sql(
                        f"DROP TABLE IF EXISTS {cfg.uuid_index_table}"
                    )
                # full-rebuild semantics: static overwrite replaces the
                # entire decisions lake from every staged ZIP
                write_decisions_parquet(df, out, mode="overwrite")
                try:
                    return int(written_obs.get["n"])
                except Exception:
                    # on the pinned 4.1.2 this never fires for the
                    # overwrite path (the all-quarantined repro delivers
                    # {'n': 0} from .get); if a metrics event is ever
                    # dropped, recount instead of fabricating 0 (r8
                    # ADVICE) — one extra pass, never-path only
                    return df.count()
            # daily-run semantics: anti-join append by uuid — never
            # touches other days' partitions and replays are idempotent.
            # NOT dynamic partition overwrite: the lake partitions on
            # created_at-derived dt, which is not the dump day — a dump
            # can carry rows whose created_at falls in another run's
            # partition (and null created_at lands every run in
            # dt=unknown), so overwriting this run's dt set would
            # clobber earlier runs' rows (r9 review finding).
            from dsacord_spark.sinks.parquet import append_new_decisions

            before = _lake_rows()
            append_new_decisions(
                spark, df, out, observation=written_obs,
                uuid_index_table=cfg.uuid_index_table,
            )
            try:
                return int(written_obs.get["n"])
            except Exception:
                # REACHABLE (reproduced r9, pinned by the replay test):
                # when the anti-join appends ZERO rows, AQE's
                # empty-relation propagation eliminates the
                # CollectMetrics node and .get raises a JVM assertion.
                # The batch count would over-report a replayed day and a
                # bare 0 would mask a dropped metrics event after a real
                # append (r8 ADVICE), so recount exactly: appended =
                # lake footer-count delta (metadata-only, no data scan)
                return _lake_rows() - before
    # custom sinks return their own count — no observation needed

    metrics.rows_written = sink(deduped)
    # the observation sits below the quarantine filter, so the sink's own
    # action populates it — no second scan of the extraction pipeline
    # (the reference re-reads nothing either; Q2 exactness, for free).
    # Observation.get BLOCKS until some action runs over the observed
    # lineage, and a custom sink that never executes one would hang the
    # backfill inside the JVM wait. The default sink always runs one; a
    # custom sink's is read only if it has already completed
    # (observation_ready), else the quarantined split is counted —
    # exact, never a fabricated 0.
    observed = None
    if not custom_sink or observation_ready(dq):
        try:
            observed = int(dq.get["empty_uuid"])
        except Exception:
            pass  # metrics-event loss: recount below, exact
    metrics.rows_quarantined = (
        quarantined.count() if observed is None else observed
    )
    metrics.elapsed_s = time.monotonic() - t0
    return metrics
