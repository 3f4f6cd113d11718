"""The benchmark's three workloads, each driven through the public
functions of `dsacord_spark` by one closed-loop client.

Every workload has the same shape: `prepare` builds the inputs (the
benchmark's own work, untimed), `setup` builds the store the loop starts
from (timed, repeated), `write_op` is one write operation of the loop
(an upsert load, a daily append or a curation pass) and `lookups` are
the analyst reads of its result that follow it. Every answer is checked
against values computed without the engine: the generator's own tallies
(`gen.LakeModel`) or DuckDB over the stored files.

Scale. The reference's published run loads ~64k rows per daily dump
(14.4M rows over ~224 days). A day here holds ROWS_PER_DAY = 3000 rows,
about 1/21 of that, and the daily-append store starts at HISTORY_DAYS
days: the size at which an untraced run, JVM start and warm-up
included, takes about 45 s on a 4-core host, so that the full series of
runs of all three workloads fits one hour. At this size a write op is
mostly the pipeline's fixed cost per run (Spark jobs, planning, the
stager's one retry): per-row work is about 30% of a pg_upsert op and
under 10% of a daily_append op, and about half of a curation pass. The
per-layer spans of a traced run show both parts.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
import urllib.parse
import urllib.request

import duckdb

import gen
from tracing import Tracer

ROWS_PER_DAY = 3000
SETUP_DAYS = 2  # days pg_upsert's set-up loads
HISTORY_DAYS = 6
CORPUS_DOCS = 4000
RECALL_FLOOR = 0.9
LOOKUPS_PER_OP = 10  # Spark reads of a lake or parquet output
PG_LOOKUPS_PER_OP = 20  # day scans on Postgres, ~10x cheaper than a Spark read
SETUP_REPS = 3  # a warm-up in the first is skipped by the median


class CheckFailed(Exception):
    """A result that differs from the value computed without the engine."""


def expect(name: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{name}: got {got!r}, want {want!r}")


class CountingOpener:
    """urllib opener that fetches each dump URL's file from the loopback
    server instead of the bucket, and counts the requests the stager
    makes and the files it has asked for."""

    def __init__(self, port: int):
        self.base = f"http://127.0.0.1:{port}/"
        self.calls = 0
        self.requested: set[str] = set()
        self._lock = threading.Lock()

    def __call__(self, url: str):
        name = os.path.basename(urllib.parse.urlparse(url).path)
        with self._lock:
            self.calls += 1
            self.requested.add(name)
        return urllib.request.urlopen(self.base + name, timeout=60)


def noop(df) -> None:
    """Force every column of a frame without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> tuple[int, int]:
    """(file count, bytes) of the parquet data files under a directory."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Context:
    """What every workload shares: the session, the run directory, the
    dump server, the tracer and the seed."""

    def __init__(self, spark, run_dir: str, seed: int, port: int, dump_dir: str,
                 tracer: Tracer, workers: int):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.opener = CountingOpener(port)
        self.dump_dir = dump_dir
        self.tracer = tracer
        self.workers = workers
        self.gen = gen.DumpGenerator(seed, ROWS_PER_DAY)
        self.published: set[int] = set()

    def publish(self, day: int) -> None:
        """Put a day's dump on the loopback server."""
        if day in self.published:
            return
        path = os.path.join(self.dump_dir, gen.day_name(self.gen.date(day)))
        with open(path + ".part", "wb") as f:
            f.write(self.gen.day_zip(day))
        os.replace(path + ".part", path)
        self.published.add(day)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


def lake_state_check(lake: str, model: gen.LakeModel) -> None:
    """DuckDB over the lake's files: row count, distinct uuids, per-day
    counts."""
    con = duckdb.connect()
    try:
        src = f"read_parquet('{lake}/*/*.parquet', hive_partitioning=true)"
        n, distinct = con.execute(f"SELECT count(*), count(DISTINCT uuid) FROM {src}").fetchone()
        per_day = dict(con.execute(
            f"SELECT CAST(dt AS VARCHAR), count(*) FROM {src} GROUP BY 1"
        ).fetchall())
    finally:
        con.close()
    expect("lake rows", n, len(model.rows))
    expect("lake distinct uuids", distinct, len(model.rows))
    expect("lake per-day counts", per_day, model.per_day())


def lake_lookups(ctx: Context, lake: str, model: gen.LakeModel, op: int):
    """Analyst reads on a parquet lake, alternating an entity_id point
    lookup and one day's counts by category. One session: the lake is
    opened (listed) once, before the first lookup is timed."""
    from pyspark.sql import functions as F

    r = random.Random(f"{ctx.seed}:lookups:{op}")
    ents, days = model.entities(), sorted(model.per_day())
    decisions = ctx.spark.read.parquet(lake)
    for k in range(LOOKUPS_PER_OP):
        if k % 2 == 0:
            e = r.choice(ents)

            def point(e=e):
                rows = decisions.filter(F.col("entity_id") == e).select("uuid").collect()
                return sorted(x["uuid"] for x in rows)

            yield point, model.entity_uuids(e)
        else:
            d = r.choice(days)

            def by_category(d=d):
                rows = decisions.filter(F.col("dt") == d).groupBy("category").count().collect()
                return {x["category"]: x["count"] for x in rows}

            yield by_category, model.category_counts(d)


class Ingest:
    """Shared front end of the two ingest workloads: stage -> extract
    -> transform -> dedup -> sink, either through `run_backfill` or,
    when traced, layer by layer."""

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def cfg(self, first: int, last: int, landing: str, index: str | None = None):
        from dsacord_spark.config import Config

        return Config(
            date_from=self.ctx.gen.date(first), date_to=self.ctx.gen.date(last),
            workers=min(5, self.ctx.workers), landing_dir=landing,
            uuid_index_table=index,
        )

    def batch(self, first: int, last: int) -> tuple[list[gen.RowTally], int]:
        valid, empty = [], 0
        for d in range(first, last + 1):
            v, e = self.ctx.gen.tallies(d)
            valid += v
            empty += e
        return valid, empty

    def attempts(self, first: int, last: int) -> int:
        """Requests the stager makes for days first..last: one per day,
        plus one retry for each day the server has not served before (it
        answers a file's first request with a 503)."""
        names = {gen.day_name(self.ctx.gen.date(d)) for d in range(first, last + 1)}
        return len(names) + len(names - self.ctx.opener.requested)

    def run(self, first: int, last: int, landing: str, index: str | None = None, sink=None):
        """`run_backfill` over days first..last; checks the stager's
        request count."""
        from dsacord_spark.pipeline import run_backfill

        want, calls = self.attempts(first, last), self.ctx.opener.calls
        m = run_backfill(self.ctx.spark, self.cfg(first, last, landing, index), sink=sink,
                         opener=self.ctx.opener)
        expect("stager requests", self.ctx.opener.calls - calls, want)
        return m

    def traced(self, first: int, last: int, landing: str, sink_span: str, sink,
               custom_sink: bool, prefix: str = "") -> int:
        """One pipeline pass with a span around each layer's public call;
        each stage is persisted and forced with a noop write so a span
        holds that layer's own work. The stage chain must track
        `pipeline.run_backfill`'s, so the spans time the pipeline the
        program runs: a custom sink is followed, as there, by a count of
        the quarantined split. `prefix` keeps set-up passes apart from the
        loop's spans and counts; the sink span is named as given. Returns
        the sink's result."""
        with self.ctx.tracer.span(f"{prefix}pipeline"):
            return self._traced_pass(first, last, landing, sink_span, sink, custom_sink,
                                     prefix)

    def _traced_pass(self, first, last, landing, sink_span, sink, custom_sink, prefix):
        from dsacord_spark.sinks.jdbc import dedup_batch
        from dsacord_spark.sources.stager import stage_range
        from dsacord_spark.sources.urlgen import url_table
        from dsacord_spark.sources.zipsource import read_staged_zips
        from dsacord_spark.transform import (
            decisions_transform, split_quarantine, with_dq_metrics,
        )

        ctx, t = self.ctx, self.ctx.tracer
        cfg = self.cfg(first, last, landing)
        urls = [(r["dt"], r["url"]) for r in
                url_table(ctx.spark, cfg.date_from, cfg.date_to, cfg.workers).collect()]
        want, calls = self.attempts(first, last), ctx.opener.calls
        t.count(f"{prefix}ingest.passes", 1)
        with t.span(f"{prefix}stager"):
            staged = stage_range(urls, landing, workers=cfg.workers, opener=ctx.opener)
        expect("traced stager requests", ctx.opener.calls - calls, want)
        paths = [p for p, _ in staged if p]
        t.count(f"{prefix}stager.days", len(urls))
        t.count(f"{prefix}stager.attempts", ctx.opener.calls - calls)
        t.count(f"{prefix}stager.bytes", sum(os.path.getsize(p) for p in paths))
        frames = []
        try:
            with t.span(f"{prefix}zipsource"):
                wire = read_staged_zips(ctx.spark, paths).persist()
                frames.append(wire)
                noop(wire)
            t.count(f"{prefix}zipsource.rows", wire.count())
            with t.span(f"{prefix}transform"):
                typed, dq = with_dq_metrics(decisions_transform(wire))
                valid, quarantined = split_quarantine(typed)
                valid = valid.persist()
                frames.append(valid)
                noop(valid)
            # the noop write above ran the observed lineage: no extra pass
            t.count(f"{prefix}transform.quarantined_rows", int(dq.get["empty_uuid"]))
            with t.span(f"{prefix}jdbc.dedup_batch"):
                deduped = dedup_batch(valid).persist()
                frames.append(deduped)
                noop(deduped)
            t.count(f"{prefix}jdbc.dedup_batch.in", valid.count())
            t.count(f"{prefix}jdbc.dedup_batch.kept", deduped.count())
            with t.span(sink_span):
                out = sink(deduped)
            if custom_sink:
                quarantined.count()
            return out
        finally:
            for f in frames:
                f.unpersist()


class PgUpsert:
    """The same front end into the reference's own sink: `write_batch`
    with always-upsert, 1000-row batches and 5 sink partitions, into a
    scratch Postgres. Set-up creates the table and loads the first
    SETUP_DAYS days; each write op then loads the last loaded day
    again plus a new day, so ON CONFLICT updates fire on half the batch."""

    name = "pg_upsert"

    def __init__(self, ctx: Context, socket_dir: str):
        from dsacord_spark.sinks.jdbc import pg_connection_factory

        self.ctx, self.ingest = ctx, Ingest(ctx)
        self.factory = pg_connection_factory(socket_dir=socket_dir)

    def sql(self, query: str, params=()) -> list[tuple]:
        """One statement on a connection of its own (benchmark book-keeping,
        not timed)."""
        conn = self.factory()
        try:
            rows = run_sql(conn.cursor(), query, params)
            conn.commit()
            return rows
        finally:
            conn.close()

    def sink(self, df) -> int:
        from dsacord_spark.sinks.jdbc import write_batch

        before = int(self.sql("SELECT count(*) FROM decisions")[0][0])
        write_batch(df, self.factory, strategy="always-upsert", batch_size=1000, num_partitions=5)
        return int(self.sql("SELECT count(*) FROM decisions")[0][0]) - before

    def prepare(self) -> dict:
        for d in range(SETUP_DAYS):
            self.ctx.publish(d)
        self.delivered = self.updated = 0
        return {"rows_per_day": ROWS_PER_DAY, "setup_days": SETUP_DAYS}

    def shared_share(self) -> float:
        """Share of delivered rows that add no row: re-sent, re-delivered
        or quarantined."""
        return self.updated / max(1, self.delivered)

    def setup(self, rep: int) -> None:
        # the reference's AutoMigrate, then the first days as a first use
        from dsacord_spark.sinks.jdbc import create_table_ddl

        conn = self.factory()
        try:
            cur = conn.cursor()
            cur.execute("DROP TABLE IF EXISTS decisions")
            for stmt in create_table_ddl("decisions"):
                cur.execute(stmt)
            conn.commit()
        finally:
            conn.close()
        self.model = gen.LakeModel()
        valid, _ = self.ingest.batch(0, SETUP_DAYS - 1)
        want = self.model.load(valid, "upsert")
        landing = self.ctx.path(f"pg-setup{rep}")
        m = self.ingest.run(0, SETUP_DAYS - 1, landing, sink=self.sink)
        expect("set-up rows_written", m.rows_written, want)
        shutil.rmtree(landing)
        self.day = SETUP_DAYS  # next new day

    def before_op(self, op: int) -> None:
        self.ctx.publish(self.day)

    def load(self) -> tuple[int, int]:
        """Apply the op's two days to the model: (new rows, empty uuids)."""
        valid, empty = self.ingest.batch(self.day - 1, self.day)
        before = len(self.model.rows)
        self.model.load(valid, "upsert")
        new = len(self.model.rows) - before
        self.delivered += len(valid) + empty
        self.updated += len(valid) + empty - new
        self.day += 1
        return new, empty

    def write_op(self, op: int) -> int:
        landing = self.ctx.path(f"pg-op{op}")
        self.last = (landing, self.ingest.run(self.day - 1, self.day, landing, sink=self.sink))
        return self.last[1].rows_written

    def traced_op(self, op: int) -> None:
        landing = self.ctx.path(f"pg-traced{op}")
        added = self.ingest.traced(self.day - 1, self.day, landing, "jdbc.write_batch",
                                   self.sink, True)
        new, _ = self.load()
        expect("traced rows added", added, new)
        rows = int(self.sql("SELECT count(*) FROM decisions")[0][0])
        expect("traced postgres count(*)", rows, len(self.model.rows))
        self.ctx.tracer.counts["pg.table_bytes"] = self.table_bytes()
        shutil.rmtree(landing)

    def table_bytes(self) -> int:
        return int(self.sql("SELECT pg_total_relation_size('decisions')")[0][0])

    def check_write(self, op: int) -> float:
        landing, m = self.last
        shutil.rmtree(landing)
        new, empty = self.load()
        n, distinct = (int(x) for x in self.sql(
            "SELECT count(*), count(DISTINCT uuid) FROM decisions")[0])
        expect("postgres count(*)", n, len(self.model.rows))
        expect("postgres distinct uuids", distinct, n)
        expect("rows_written", m.rows_written, new)
        expect("rows_quarantined", m.rows_quarantined, empty)
        expect("day_errors", m.day_errors, [])
        # a re-sent uuid moves to the day of its latest delivery only if
        # ON CONFLICT updated the stored row
        per_day = {d: int(c) for d, c in self.sql(
            "SELECT to_char(created_at, 'YYYY-MM-DD'), count(*) FROM decisions GROUP BY 1")}
        expect("postgres per-day counts", per_day, self.model.per_day())
        # fresh planner statistics, as autovacuum leaves them sooner or
        # later: otherwise the lookups' plans hang on whether its analyze
        # has fired yet in this run
        self.sql("ANALYZE decisions")
        return self.table_bytes() / n

    def lookups(self, op: int):
        """The analyst's session: one connection, opened before the first
        lookup is timed and closed after the last. Every lookup is one
        day's counts by category, a scan of the whole table (no index
        serves created_at), so its cost grows with the table: with the
        same number after each op, the median and the tail fall inside
        the second and third op's samples. An entity lookup, an index
        probe taking well under a millisecond, would move the median to
        the edge between two groups of samples."""
        r = random.Random(f"{self.ctx.seed}:lookups:{op}")
        days = sorted(self.model.per_day())
        conn = self.factory()
        try:
            cur = conn.cursor()
            for _ in range(PG_LOOKUPS_PER_OP):
                d = r.choice(days)

                def by_category(d=d):
                    rows = run_sql(
                        cur, "SELECT category, count(*) FROM decisions"
                        " WHERE created_at >= %s AND created_at < %s::date + 1 GROUP BY 1",
                        (d, d))
                    return {c: int(n) for c, n in rows}

                yield by_category, self.model.category_counts(d)
        finally:
            conn.close()


def run_sql(cur, query: str, params=()) -> list[tuple]:
    cur.execute(query, params) if params else cur.execute(query)
    return cur.fetchall()


class DailyAppend:
    """The production cron: a lake of HISTORY_DAYS days with a uuid
    index, then each write op appends a new day plus the re-delivered
    previous day through `run_backfill` (anti-join append against the
    index); lookups follow.

    The history lake is built once, before set-up: its build pays the
    JVM's warm-up, and its time is in the detail record. Each set-up rep
    then adopts a uuid index on that lake: the index is dropped, and
    `append_new_decisions`, called with it on an empty batch, rebuilds it
    with one full-lake uuid scan."""

    name = "daily_append"

    def __init__(self, ctx: Context):
        self.ctx, self.ingest = ctx, Ingest(ctx)
        self.landing = ctx.path("da-lake")
        self.lake = os.path.join(self.landing, "decisions")
        self.index = "uuid_index"
        self.model = gen.LakeModel()

    def prepare(self) -> dict:
        for d in range(HISTORY_DAYS):
            self.ctx.publish(d)
        self.offered = self.already_stored = 0
        valid, _ = self.ingest.batch(0, HISTORY_DAYS - 1)
        want = self.model.load(valid, "append")
        t0 = time.perf_counter()
        if self.ctx.tracer.enabled:
            # traced runs build the history layer by layer: its lake
            # write into an empty lake is the backfill's parquet.write
            got = self.ingest.traced(0, HISTORY_DAYS - 1, self.landing, "parquet.write",
                                     self.traced_sink, False, prefix="history.")
        else:
            got = self.ingest.run(0, HISTORY_DAYS - 1, self.landing, self.index).rows_written
        history_s = time.perf_counter() - t0
        expect("history rows_written", got, want)
        lake_state_check(self.lake, self.model)
        self.day = HISTORY_DAYS  # next new day
        return {"rows_per_day": ROWS_PER_DAY, "history_days": HISTORY_DAYS,
                "history_rows": len(self.model.rows), "history_build_s": history_s}

    def shared_share(self) -> float:
        """Share of offered rows the lake already held."""
        return self.already_stored / max(1, self.offered)

    def setup(self, rep: int) -> None:
        from dsacord_spark.sinks.parquet import append_new_decisions

        spark = self.ctx.spark
        spark.sql(f"DROP TABLE IF EXISTS {self.index}")
        files = dir_bytes(self.lake)
        empty = spark.read.parquet(self.lake).drop("dt").limit(0)
        append_new_decisions(spark, empty, self.lake, uuid_index_table=self.index)
        expect("lake files after an empty append", dir_bytes(self.lake), files)
        con = duckdb.connect()
        try:
            n, distinct = con.execute(
                "SELECT count(*), count(DISTINCT uuid) FROM read_parquet("
                f"'{self.ctx.path('warehouse', self.index)}/*.parquet')").fetchone()
        finally:
            con.close()
        expect("uuid index rows", (n, distinct), (len(self.model.rows),) * 2)

    def traced_sink(self, df) -> int:
        """`run_backfill`'s default sink, step for step: a footer count of
        the lake, the anti-join append, then its observed row count."""
        from pyspark.sql import Observation

        from dsacord_spark.sinks.parquet import append_new_decisions

        spark = self.ctx.spark
        try:
            before = spark.read.parquet(self.lake).count()
        except Exception:
            before = 0  # no lake yet
        obs = Observation("written")
        append_new_decisions(spark, df, self.lake, observation=obs,
                             uuid_index_table=self.index)
        try:
            return int(obs.get["n"])
        except Exception:
            # as in run_backfill: an append of zero rows leaves no metric
            return spark.read.parquet(self.lake).count() - before

    def before_op(self, op: int) -> None:
        self.ctx.publish(self.day)

    def write_op(self, op: int) -> int:
        self.last = self.ingest.run(self.day - 1, self.day, self.landing, self.index)
        return self.last.rows_written

    def traced_op(self, op: int) -> None:
        appended = self.ingest.traced(self.day - 1, self.day, self.landing, "parquet.append",
                                      self.traced_sink, False)
        valid, _ = self.ingest.batch(self.day - 1, self.day)
        want = self.model.load(valid, "append")
        expect("traced appended rows", appended, want)
        t = self.ctx.tracer
        t.count("parquet.append.offered", len(valid))
        t.count("parquet.append.appended", appended)
        self.day += 1

    def check_write(self, op: int) -> float:
        m = self.last
        valid, empty = self.ingest.batch(self.day - 1, self.day)
        want = self.model.load(valid, "append")
        self.offered += len(valid)
        self.already_stored += len(valid) - want
        self.day += 1
        expect("appended rows", m.rows_written, want)
        expect("rows_quarantined", m.rows_quarantined, empty)
        expect("day_errors", m.day_errors, [])
        lake_state_check(self.lake, self.model)
        index_dir = os.path.join(self.ctx.path("warehouse"), self.index)
        size = dir_bytes(self.lake)[1] + dir_bytes(index_dir)[1]
        return size / len(self.model.rows)

    def lookups(self, op: int):
        return lake_lookups(self.ctx, self.lake, self.model, op)

    def layout_counts(self) -> None:
        files, size = dir_bytes(self.lake)
        self.ctx.tracer.counts["parquet.files"] = files
        self.ctx.tracer.counts["parquet.bytes"] = size


class CurateNearDup:
    """`curate.dedup_corpus(method="minhash")` over a generated corpus of
    statement texts with planted near-dup clusters; the kept-document
    assignment is written as parquet and looked up."""

    name = "curate_near_dup"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.docs, self.clusters = gen.make_corpus(ctx.seed, CORPUS_DOCS)
        self.group = {i: ("s", i) for i, _ in self.docs}
        for c in self.clusters:
            for d in c:
                self.group[d] = ("c", c[0])
        self.planted_pairs = sum(len(c) * (len(c) - 1) // 2 for c in self.clusters)

    def prepare(self) -> dict:
        in_clusters = sum(len(c) for c in self.clusters)
        return {"docs": len(self.docs), "near_dup_share": in_clusters / len(self.docs),
                "planted_pairs": self.planted_pairs}

    def setup(self, rep: int) -> None:
        # load the corpus into the parquet input the curation reads
        spark = self.ctx.spark
        self.corpus = self.ctx.path(f"corpus{rep}")
        spark.createDataFrame(self.docs, "doc_id long, text string").write.parquet(self.corpus)
        if rep > 0:
            shutil.rmtree(self.ctx.path(f"corpus{rep - 1}"))

    def write_op(self, op: int) -> int:
        from dsacord_spark.curate import dedup_corpus

        spark = self.ctx.spark
        out = self.ctx.path(f"curated{op}")
        docs = spark.read.parquet(self.corpus)
        dedup_corpus(docs, method="minhash", threshold=0.5).write.parquet(out)
        spark.catalog.clearCache()
        self.out = out
        return len(self.docs)

    def traced_op(self, op: int) -> None:
        """`dedup_corpus` with spans nested around the two operator calls
        it makes; each operator's result is persisted and forced inside
        its span, so the parent's self time is the keep selection."""
        import dsacord_spark.operators.dedup as dd
        from dsacord_spark.curate import dedup_corpus

        spark, t = self.ctx.spark, self.ctx.tracer
        pairs_fn, comp_fn = dd.minhash_lsh_pairs, dd.duplicate_components
        made = {}

        def forced(fn, span):
            def call(*args, **kwargs):
                with t.span(span):
                    res = fn(*args, **kwargs).persist()
                    noop(res)
                made[span] = res
                return res
            return call

        dd.minhash_lsh_pairs = forced(pairs_fn, "dedup.minhash_lsh_pairs")
        dd.duplicate_components = forced(comp_fn, "dedup.duplicate_components")
        try:
            with t.span("curate.dedup_corpus"):
                noop(dedup_corpus(spark.read.parquet(self.corpus), method="minhash",
                                  threshold=0.5))
            t.count("dedup.pairs", made["dedup.minhash_lsh_pairs"].count())
        finally:
            dd.minhash_lsh_pairs, dd.duplicate_components = pairs_fn, comp_fn
            spark.catalog.clearCache()

    def check_write(self, op: int) -> float:
        con = duckdb.connect()
        try:
            rows = con.execute(
                f"SELECT doc_id, cluster_id, kept FROM read_parquet('{self.out}/*.parquet')"
            ).fetchall()
        finally:
            con.close()
        expect("curated doc ids", sorted(r[0] for r in rows), list(range(len(self.docs))))
        members: dict[int, list[int]] = {}
        kept: dict[int, int] = {}
        for doc, cluster, is_kept in rows:
            members.setdefault(cluster, []).append(doc)
            kept[cluster] = kept.get(cluster, 0) + bool(is_kept)
        expect("one kept doc per cluster", set(kept.values()), {1})
        merged = [c for c, ds in members.items() if len({self.group[d] for d in ds}) > 1]
        expect("clusters merging planted-distinct docs", merged[:3], [])
        found = sum(len(ds) * (len(ds) - 1) // 2 for ds in members.values())
        self.recall = found / self.planted_pairs
        if self.recall < RECALL_FLOOR:
            raise CheckFailed(f"recall {self.recall:.3f} below floor {RECALL_FLOOR}")
        self.assign = {doc: cluster for doc, cluster, _ in rows}
        self.members = members
        if op > 0:
            shutil.rmtree(self.ctx.path(f"curated{op - 1}"), ignore_errors=True)
        return dir_bytes(self.out)[1] / len(rows)

    def lookups(self, op: int):
        """A doc's cluster and a cluster's docs, alternating, on one
        session over the curated output (opened before the first lookup
        is timed)."""
        from pyspark.sql import functions as F

        r = random.Random(f"{self.ctx.seed}:lookups:{op}")
        curated = self.ctx.spark.read.parquet(self.out)
        for k in range(LOOKUPS_PER_OP):
            doc = r.randrange(len(self.docs))
            if k % 2 == 0:
                def point(doc=doc):
                    rows = curated.filter(F.col("doc_id") == doc).collect()
                    return [x["cluster_id"] for x in rows]

                yield point, [self.assign[doc]]
            else:
                c = self.assign[doc]

                def cluster(c=c):
                    rows = curated.filter(F.col("cluster_id") == c).select("doc_id").collect()
                    return sorted(x["doc_id"] for x in rows)

                yield cluster, sorted(self.members[c])
