"""Benchmark of record for dsacord_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One closed-loop client (the daily cron or
one CLI run) drives a workload through the package's public functions for
S seconds, checks every result against values computed without the
engine, and prints as its last stdout line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones
(each write op then alternates with a traced copy of itself, and the
untraced and traced op times are both reported, so the tracing overhead
shows). The line before it is a JSON detail record: host, input shape,
sample counts, the tail percentile and a host-speed probe taken before
every write op (the host's speed can swing 2x within minutes; the probe
tells that drift apart from a change in the program).

Workloads (see workloads.py): pg_upsert, daily_append, curate_near_dup.

Everything the run writes lives in a per-run directory under
`.perfbench_run/` that is removed on exit; traced runs also leave their
spans in `.perfbench_out/`. Spark runs on local[nproc] with a driver heap
well below physical memory. Exit status is 0 only when a result was
printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
_T0 = time.monotonic()
MIN_WRITE_OPS = 3  # the median skips a first op that still warms the JVM
MAX_FAILURES = 5
WORKLOADS = ("pg_upsert", "daily_append", "curate_near_dup")

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "write_p50_s": "s",
    "lookup_p50_s": "s",
    "lookup_tail_s": "s",
    "bytes_per_row": "B",
    "peak_rss_mb": "MB",
}
# span names whose mean duration per call is reported as "<name>.s"
SPAN_LAYERS = (
    "stager", "zipsource", "transform", "jdbc.dedup_batch", "parquet.write",
    "parquet.append", "jdbc.write_batch", "dedup.minhash_lsh_pairs",
    "dedup.duplicate_components",
)
PER_LAYER = {
    "session.start_s": "s",
    "stager.s": "s", "stager.bytes": "B", "stager.attempts_per_day": "count",
    "zipsource.s": "s", "zipsource.rows_per_s": "1/s",
    "transform.s": "s", "transform.quarantined_rows": "count",
    "jdbc.dedup_batch.s": "s", "jdbc.dedup_batch.kept_ratio": "ratio",
    "parquet.write.s": "s", "parquet.files": "count", "parquet.bytes": "B",
    "parquet.append.s": "s", "parquet.append.appended_ratio": "ratio",
    "jdbc.write_batch.s": "s", "jdbc.write_batch.rows_per_s": "1/s",
    "pg.table_bytes": "B",
    "dedup.minhash_lsh_pairs.s": "s", "dedup.pairs": "count", "dedup.recall": "ratio",
    "dedup.duplicate_components.s": "s", "curate.keep.s": "s",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "spark.jobs": "count",
    "spark.tasks": "count",
    "pipeline.untraced_op_s": "s", "pipeline.traced_op_s": "s",
    "trace.overhead_ratio": "ratio",
}


def log(msg: str) -> None:
    try:
        print(f"perfbench [{time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)
    except OSError:
        pass  # stderr closed by a caller that went away; keep tearing down


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_runtime(root: str, run_dir: str) -> dict:
    """Pin the runtime: all cores, a driver heap below physical memory,
    and every scratch directory inside the run directory."""
    nproc = os.cpu_count() or 1
    heap_mb = min(2048, mem_total_mb() // 4)
    for d in ("tmp", "local", "warehouse", "dumps"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return {"nproc": nproc, "mem_total_mb": mem_total_mb(), "driver_heap_mb": heap_mb}


def start_spark(run_dir: str):
    from dsacord_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit: the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if proc is None or proc.poll() is None:
            spark.stop()
            gateway.shutdown()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()


def start_dump_server(dump_dir: str) -> tuple[subprocess.Popen, int]:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "dumpserver.py"), dump_dir],
        stdout=subprocess.PIPE, text=True,
    )
    line = proc.stdout.readline()
    if not line.strip().isdigit():
        proc.kill()
        proc.wait()
        raise RuntimeError("dump server did not report its port")
    return proc, int(line)


def make_workload(name: str, ctx, pg_socket: str | None):
    import workloads as w

    if name == "pg_upsert":
        return w.PgUpsert(ctx, pg_socket)
    if name == "daily_append":
        return w.DailyAppend(ctx)
    return w.CurateNearDup(ctx)


class Loop:
    """The closed loop: write op, its checks, its lookups; in traced runs
    a traced copy of the write op follows each untraced one. Runs until
    `seconds` have passed and at least MIN_WRITE_OPS ops are done."""

    def __init__(self, wl, ctx, trace: bool):
        self.wl, self.ctx, self.trace = wl, ctx, trace
        self.write_s: list[float] = []
        self.rows_per_s: list[float] = []
        self.bytes_per_row: list[float] = []
        self.lookup_s: list[float] = []
        self.traced_s: list[float] = []
        self.probe_s: list[float] = []
        self.attempted = self.failed = 0

    def fail(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        log(f"{what} failed: {exc}")
        try:
            traceback.print_exc(file=sys.stderr)
        except OSError:
            pass

    def _before(self, op: int) -> None:
        before = getattr(self.wl, "before_op", None)
        if before is not None:
            before(op)

    def one(self, op: int) -> None:
        import tracing
        import workloads as w

        self.probe_s.append(tracing.host_probe_s())
        self._before(op)
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            rows = self.wl.write_op(op)
            dt = time.perf_counter() - t0
            self.bytes_per_row.append(self.wl.check_write(op))
        except Exception as exc:
            self.fail(f"write op {op}", exc)
            return
        self.write_s.append(dt)
        self.rows_per_s.append(rows / dt)
        # lookups follow only the first MIN_WRITE_OPS ops, so every run
        # takes the same number of lookup samples and the same tail
        for fn, want in self.wl.lookups(op) if op < MIN_WRITE_OPS else ():
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                got = fn()
                self.lookup_s.append(time.perf_counter() - t0)
                w.expect(f"lookup {fn.__name__}", got, want)
            except Exception as exc:
                self.fail(f"lookup after op {op}", exc)
        if self.trace:
            self._before(op)
            self.attempted += 1
            self.ctx.tracer.new_trace()
            try:
                t0 = time.perf_counter()
                self.wl.traced_op(op)
                self.traced_s.append(time.perf_counter() - t0)
            except Exception as exc:
                self.fail(f"traced op {op}", exc)

    def run(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        op = 0
        while True:
            self.one(op)
            op += 1
            if self.failed >= MAX_FAILURES:
                break
            if time.perf_counter() >= deadline and op >= MIN_WRITE_OPS:
                break


def end_to_end(loop: Loop, setup_s: list[float], rss_mb: float) -> dict:
    from tracing import tail

    look_tail, _pct, _n = tail(loop.lookup_s)
    return {
        "setup_s": statistics.median(setup_s),
        # medians: the first op may still carry part of the JVM's warm-up
        "rows_per_s": statistics.median(loop.rows_per_s),
        "write_p50_s": statistics.median(loop.write_s),
        "lookup_p50_s": statistics.median(loop.lookup_s),
        "lookup_tail_s": look_tail,
        "bytes_per_row": statistics.median(loop.bytes_per_row),
        "peak_rss_mb": rss_mb,
    }


def per_layer(loop: Loop, wl, ctx, probes: dict) -> dict:
    t = ctx.tracer
    c = t.counts
    n = max(1, len(loop.traced_s))
    passes = c.get("ingest.passes", 0) or 1
    out = {name: 0.0 for name in PER_LAYER}
    for name in SPAN_LAYERS:
        out[f"{name}.s"] = t.mean(name)
    days = c.get("stager.days", 0)
    out["stager.bytes"] = c.get("stager.bytes", 0) / passes
    out["stager.attempts_per_day"] = c.get("stager.attempts", 0) / days if days else 0.0
    zs = t.total("zipsource")
    out["zipsource.rows_per_s"] = c.get("zipsource.rows", 0) / zs if zs else 0.0
    out["transform.quarantined_rows"] = c.get("transform.quarantined_rows", 0) / passes
    din = c.get("jdbc.dedup_batch.in", 0)
    out["jdbc.dedup_batch.kept_ratio"] = c.get("jdbc.dedup_batch.kept", 0) / din if din else 0.0
    offered = c.get("parquet.append.offered", 0)
    out["parquet.append.appended_ratio"] = (
        c.get("parquet.append.appended", 0) / offered if offered else 0.0
    )
    out["parquet.files"] = c.get("parquet.files", 0)
    out["parquet.bytes"] = c.get("parquet.bytes", 0)
    wb = t.total("jdbc.write_batch")
    # the sink receives the rows dedup_batch kept
    out["jdbc.write_batch.rows_per_s"] = c.get("jdbc.dedup_batch.kept", 0) / wb if wb else 0.0
    out["pg.table_bytes"] = c.get("pg.table_bytes", 0)
    out["dedup.pairs"] = c.get("dedup.pairs", 0) / n
    out["dedup.recall"] = getattr(wl, "recall", 0.0)
    out["curate.keep.s"] = t.self_time("curate.dedup_corpus") / n
    out.update(probes)
    out["pipeline.untraced_op_s"] = statistics.median(loop.write_s)
    out["pipeline.traced_op_s"] = statistics.median(loop.traced_s) if loop.traced_s else 0.0
    out["trace.overhead_ratio"] = (
        out["pipeline.traced_op_s"] / out["pipeline.untraced_op_s"] - 1
        if loop.traced_s else 0.0
    )
    return out


def run(args, root: str, run_dir: str, cleanups: list) -> tuple[dict, dict]:
    import tracing
    import workloads as w
    from pg import ScratchPostgres

    host = configure_runtime(root, run_dir)
    host["loadavg_start"] = os.getloadavg()
    host["probe_start_s"] = tracing.host_probe_s()
    server, port = start_dump_server(os.path.join(run_dir, "dumps"))
    cleanups.append(lambda: (server.terminate(), server.wait()))

    pg_socket = None
    if args.workload == "pg_upsert":
        pg = ScratchPostgres(run_dir)
        cleanups.append(pg.stop)
        t0 = time.perf_counter()
        pg_socket = pg.start()
        host["pg_start_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    log("starting spark")
    spark = start_spark(run_dir)
    session_s = time.perf_counter() - t0
    cleanups.append(lambda: stop_spark(spark))
    jvm_pid = spark.sparkContext._gateway.proc.pid

    tracer = tracing.Tracer(enabled=bool(args.trace))
    ctx = w.Context(spark, run_dir, args.seed, port, os.path.join(run_dir, "dumps"),
                    tracer, host["nproc"])
    wl = make_workload(args.workload, ctx, pg_socket)
    log("preparing inputs")
    inputs = wl.prepare()
    log("set-up")

    loop = Loop(wl, ctx, bool(args.trace))
    setup_s = []
    for rep in range(w.SETUP_REPS):
        loop.attempted += 1
        t0 = time.perf_counter()
        try:
            wl.setup(rep)
        except w.CheckFailed as exc:
            loop.fail(f"set-up {rep}", exc)
        setup_s.append(time.perf_counter() - t0)

    gc0, job0 = tracing.jvm_gc_seconds(spark), tracing.spark_job_count(spark)
    log("measuring")
    loop.run(args.seconds)
    log("measured")
    if not loop.write_s or not loop.lookup_s:
        raise RuntimeError("no write op completed")
    if hasattr(wl, "layout_counts"):
        wl.layout_counts()
    probes = {
        "session.start_s": session_s,
        "jvm.gc_s": tracing.jvm_gc_seconds(spark) - gc0,
        "jvm.heap_peak_mb": tracing.jvm_heap_peak_mb(spark),
        "spark.jobs": tracing.spark_job_count(spark) - job0,
        "spark.tasks": tracing.spark_tasks_of_jobs(spark, job0),
    }
    rss_mb = tracing.process_tree_hwm_mb(jvm_pid)
    host["loadavg_end"] = os.getloadavg()
    host["probe_end_s"] = tracing.host_probe_s()
    probe = statistics.median(
        [host["probe_start_s"], *loop.probe_s, host["probe_end_s"]])

    if args.trace:
        values, units = per_layer(loop, wl, ctx, probes), PER_LAYER
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
    else:
        values, units = end_to_end(loop, setup_s, rss_mb), END_TO_END
    _tail, pct, n_look = tracing.tail(loop.lookup_s)
    detail = {
        "workload": args.workload, "seed": args.seed, "host": host, "inputs": inputs,
        "setup_samples_s": setup_s, "write_ops": len(loop.write_s),
        "write_samples_s": loop.write_s, "lookups": n_look,
        "lookup_tail_percentile": pct, "traced_ops": len(loop.traced_s),
        "shared_share": getattr(wl, "shared_share", lambda: None)(),
        "dedup_recall": getattr(wl, "recall", None),
        "postgres_durability": "defaults: fsync=on synchronous_commit=on full_page_writes=on"
        if pg_socket else None,
        "probe_median_s": probe,
    }
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    return detail, result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dsacord_spark", "__init__.py")):
        print("perfbench: run from the repository root (dsacord_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]

    base = os.path.join(root, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    cleanups: list = []
    try:
        detail, result = run(args, root, run_dir, cleanups)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish tearing down
        log("stopping")
        for fn in reversed(cleanups):
            try:
                fn()
            except Exception as exc:  # keep tearing down the rest
                log(f"clean-up step failed: {exc!r}")
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
        log("stopped")
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
