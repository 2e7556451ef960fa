"""The benchmark's workloads and their output checks.

Both are closed loops with one caller. Each runs in three phases: set-up
(the session start, which launches the JVM, then an untimed warm-up whose
outputs are checked), the timed loop (requests until ``seconds`` have
passed, at least one), and checks on what the loop left behind.

- ``session_batch``: ``pipeline.run_batch`` over one trading day of the
  180-symbol universe per job, into a sink that grows day by day; each
  write is followed by the recovery replay of the same day, which must
  write 0 rows. Job count, not data size, sets its time, and it puts sink
  appends beside dedup reads of the same sink.
- ``llm_curation``: a fixed, ordered mix of registry queries, each forced
  with a noop write. ``quality_train_score`` spends its time building the
  query (an eager loop of small Spark jobs), the other two executing it.

In a traced run (``trace=True``) the timed loop alternates untraced and
traced jobs, so the same process yields the tracing overhead; per-layer
metrics come from the traced jobs only. The traced ``session_batch`` run
then also drains one more generated day through
``pipeline.run_streaming`` (candles -> densify -> ATR -> sink), and a
benchmark-owned ``StreamingQueryListener`` records each stage's
micro-batch progress.
"""

from __future__ import annotations

import gc
import glob
import importlib.util
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import bench
import duckdb
import numpy as np
import pandas as pd
from pyspark.sql.streaming import StreamingQueryListener

import gen
from spans import Recorder, covered

from options_data_pipeline_spark import pipeline, registry
from options_data_pipeline_spark.operators import atr, filters, gapfill, ids, ohlc, truerange
from options_data_pipeline_spark.session import get_spark
from options_data_pipeline_spark.sources import tables
from options_data_pipeline_spark.streaming import sink as sink_mod

# session jobs still speed up for a few days as the JVM compiles, but a
# second warm-up day did not narrow the run-to-run spread (host drift
# dominates it) and cost ~6 s a run
WARMUP_DAYS = 1

CONSTRUCT_HEAVY = ["quality_train_score"]
EXECUTE_HEAVY = ["repetition_char_stats", "tfidf_top_terms"]
MIX = CONSTRUCT_HEAVY + EXECUTE_HEAVY

OPERATORS = ["ohlc_candles", "gap_fill", "with_true_range", "with_wilder_atr", "with_row_id"]

#: the chained queries of ``run_streaming(..., dense_path=...)``, by name
STAGES = ["candles", "densify", "enriched"]
STAGE_METRICS = {
    "batches": "count",
    "batch_ms_p50": "ms",
    "batch_ms_p90": "ms",
    "add_batch_ms_p50": "ms",
    "busy_share": "ratio",
    "input_rows": "count",
    "state_rows_max": "count",
    "state_bytes_max": "bytes",
    "dropped_by_watermark": "count",
}
#: tick files one streamed day is published as; the tick source reads one
#: per trigger
STREAM_FILES = 8
WATERMARK_US = 500_000  # run_streaming's default watermark, 500 ms


def _load_tool(root: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


@dataclass
class Run:
    """State of one benchmark invocation."""

    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    spark: object = None
    rec: Recorder = field(default_factory=Recorder)
    attempted: int = 0
    failed: int = 0
    start_s: float = 0.0
    warmup_s: float = 0.0
    generate_s: float = 0.0
    generated_rows: int = 0
    digest: str = ""
    job_s: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    #: samples behind each reported metric, for the diagnostics line
    samples: dict = field(default_factory=dict)
    #: frames the program built in the last traced request, by operator
    frames: dict = field(default_factory=dict)
    #: (sink span, frame handed to the sink) of the open traced request
    offered: list = field(default_factory=list)

    @property
    def inputs(self) -> str:
        return os.path.join(self.work, "inputs")

    def set_up(self, warmup) -> None:
        """``setup_s``: the session start (JVM launch, session, a one-row
        job), then the warm-up."""
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.spark.range(1).count()
        self.start_s = time.perf_counter() - t0
        self.rec.spark = self.spark
        t0 = time.perf_counter()
        warmup()
        self.warmup_s = time.perf_counter() - t0

    @property
    def setup_s(self) -> float:
        return self.start_s + self.warmup_s

    def attempt(self, fn, *args):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - the loop must report, not die
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            print(f"check failed: {what}", file=sys.stderr)
            self.failed += 1

    def until_deadline(self):
        """Yield job indexes until ``seconds`` have passed: at least one
        job, and in a traced run at least three (untraced, traced,
        untraced), so the traced job has an untraced one on each side."""
        t0 = time.perf_counter()
        k = 0
        while k < 1 + 2 * self.trace or time.perf_counter() - t0 < self.seconds:
            yield k
            k += 1

    def traced(self, k: int) -> bool:
        return self.trace and k % 2 == 1

    def peak_rss_mb(self) -> float:
        """Peak RSS of the Spark JVM plus this Python process."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb(pid) + _vm_hwm_kb("self")) / 1024.0

    def live_heap_mb(self) -> float:
        """JVM heap still in use after a full collection: what the run
        left behind in caches, state and leaks. Steadier than peak RSS,
        which moves with collection timing."""
        jvm = self.spark._jvm
        gc.collect()  # drop Python handles, so py4j releases their JVM objects
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        # Spark's ContextCleaner frees broadcast and cached blocks only
        # after a collection has cleared their handles, so the first
        # readings can still hold them: collect until three readings agree
        readings: list[float] = []
        for _ in range(12):
            jvm.System.gc()
            readings.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
            if len(readings) >= 4 and max(readings[-3:]) - min(readings[-3:]) < 1.0:
                break
            time.sleep(0.3)
        return readings[-1]

    def stop(self) -> None:
        """Stop Spark and wait until its JVM has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
            gateway.proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None

    def overhead(self, untraced: list, traced: list) -> float:
        base = median(untraced)
        return (median(traced) - base) / base if base else 0.0


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _coverage_min(rec: Recorder) -> float:
    """Smallest share of a request's wall time covered by its child spans."""
    shares = []
    for i, s in enumerate(rec.spans):
        if s.name.startswith("request.") and s.duration > 0:
            kids = [(c.start, c.end) for c in rec.children(i)]
            shares.append(covered(kids, s.start, s.end) / s.duration)
    return min(shares) if shares else 0.0


def _spans(rec: Recorder, name: str) -> list:
    return [s for s in rec.spans if s.name == name]


def _sources_load_s(rec: Recorder) -> float:
    """Time in source loaders, outermost calls only (load_ticks calls
    load_table)."""
    return sum(
        s.duration
        for s in rec.spans
        if s.name.startswith("sources.")
        and not (s.parent >= 0 and rec.spans[s.parent].name.startswith("sources."))
    )


# ---------------------------------------------------------------------------
# session_batch
# ---------------------------------------------------------------------------

#: gap-filled (symbol, 5-minute window) slots of one session, computed
#: from the raw ticks in DuckDB: every symbol with an in-session tick gets
#: one row per window from its first window to the session's last window.
EXPECTED_SLOTS_SQL = """
WITH w AS (
  SELECT event_type AS symbol, floor(epoch_us(ts) / 300000000) AS k
  FROM read_parquet(?)
  WHERE strftime(ts, '%H:%M:%S') >= '09:15:00'
    AND strftime(ts, '%H:%M:%S') < '15:30:00'
)
SELECT CAST(sum(hi - lo + 1) AS BIGINT)
FROM (SELECT symbol, min(k) AS lo FROM w GROUP BY symbol),
     (SELECT max(k) AS hi FROM w)
"""


def _expected_slots(day_dir: str) -> int:
    return duckdb.execute(
        EXPECTED_SLOTS_SQL, [os.path.join(day_dir, "events.parquet")]
    ).fetchone()[0]


def _sink_ids(path: str) -> tuple[int, int, int]:
    """(rows, distinct ids, files) of a flat parquet sink."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        return 0, 0, 0
    rows, distinct = duckdb.execute(
        "SELECT count(*), count(DISTINCT id) FROM read_parquet(?)", [files]
    ).fetchone()
    return rows, distinct, len(files)


def install_spans(run: Run) -> None:
    rec = run.rec

    def sink_call(span, n, args):
        span.attrs["rows"] = n
        run.offered.append((span, args[0]))

    def keep_frame(op):
        def on_result(span, frame, args):
            run.frames[op] = frame

        return on_result

    rec.wrap(tables, "load_ticks", "sources.load_ticks")
    rec.wrap(tables, "load_table", "sources.load_table")
    rec.wrap(pipeline, "run_batch", "pipeline.run_batch")
    rec.wrap(pipeline, "enrich_candles", "pipeline.enrich_candles")
    rec.wrap(sink_mod, "idempotent_append_batch", "sink.append", jobs=True, on_result=sink_call)
    for mod, name in [
        (filters, "in_session"),
        (ohlc, "ohlc_candles"),
        (gapfill, "gap_fill"),
        (truerange, "with_true_range"),
        (atr, "with_wilder_atr"),
        (ids, "with_row_id"),
    ]:
        rec.wrap(mod, name, f"operators.{name}", on_result=keep_frame(name))


def _count_offered(run: Run) -> None:
    """Count the rows each sink call of the request just closed was
    handed, outside its spans: a count inside would add a job to the
    call it measures."""
    for span, frame in run.offered:
        span.attrs["offered"] = frame.count()
    run.offered.clear()


def _operator_exec_s(run: Run, rounds: int = 3) -> dict:
    """Incremental cost of forcing each prefix of the enrich chain, on
    the frames the program built in the last traced request:
    operators.<op>.exec_s = time(prefix ending in op) - time(prefix
    before), each time the median of ``rounds`` forcings. ``run_batch``
    has unpersisted its candle cache by then, so each prefix recomputes
    from the tick source."""

    def force(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    frames = [run.frames[op] for op in ["in_session", *OPERATORS]]
    samples = [[force(f) for f in frames] for _ in range(rounds)]
    times = [median(col) for col in zip(*samples)]
    run.samples["operators.*.exec_s"] = rounds
    return {
        f"operators.{op}.exec_s": times[i + 1] - times[i] for i, op in enumerate(OPERATORS)
    }


def session_batch(run: Run) -> None:
    t0 = time.perf_counter()
    # a job takes seconds, so seconds + 3 days after the warm-up cover the
    # loop and a traced run's three-job floor; the last day is streamed
    n_days = WARMUP_DAYS + 3 + int(run.seconds) + 1
    days = gen.session_days(run.seed, n_days, run.inputs)
    run.generate_s = time.perf_counter() - t0
    run.generated_rows = sum(n for _, n in days)
    run.digest = gen.digest(run.inputs)
    expected = [_expected_slots(d) for d, _ in days]

    def job(day_dir: str, sink: str) -> int:
        return pipeline.run_batch(tables.load_ticks(run.spark, day_dir), sink)

    # one sink for the whole run: the warm-up days go first, so every timed
    # write also pays the dedup read of a non-empty, growing sink
    sink = os.path.join(run.work, "sink")

    def warmup():
        for day in range(WARMUP_DAYS):
            for want in (expected[day], 0):
                n = run.attempt(job, days[day][0], sink)
                if n is not None:
                    run.check(n == want, f"warm-up day {day} wrote {n}, expected {want}")

    run.set_up(warmup)

    jobs: list[dict] = []  # one scheduled session job: its write, then its replay
    for k in run.until_deadline():
        day = WARMUP_DAYS + k
        if day >= n_days - 1:
            break
        day_dir, n_ticks = days[day]
        run.rec.enabled = traced = run.traced(k)
        times = {}
        for kind, want in (("write", expected[day]), ("replay", 0)):
            with run.rec.span(f"request.{kind}", request=f"{kind}{day}", jobs=True):
                t0 = time.perf_counter()
                n = run.attempt(job, day_dir, sink)
                times[kind] = time.perf_counter() - t0
            if n is not None:
                run.check(n == want, f"day {day} {kind} wrote {n}, expected {want}")
            _count_offered(run)
        run.rec.enabled = False
        jobs.append({"ticks": n_ticks, "traced": traced, **times})
    run.job_s = jobs

    rows, distinct, files = _sink_ids(sink)
    run.attempted += 1
    run.check(rows == distinct, f"sink holds {rows - distinct} duplicate ids")
    run.check(rows == sum(expected[: WARMUP_DAYS + len(jobs)]), "sink row count")

    plain = [j for j in jobs if not j["traced"]]
    run.e2e = {
        "job_p50_s": median([j["write"] + j["replay"] for j in plain]),
        "rows_per_s": sum(j["ticks"] for j in plain) / sum(j["write"] for j in plain),
    }
    run.samples.update({"setup_s": 1, "job_p50_s": len(plain), "rows_per_s": len(plain)})
    if run.trace:
        run.layers.update(_operator_exec_s(run))
        run.layers.update(_pipeline_layers(run, jobs, files))
        run.layers.update(_streaming_layers(run, days[-1][0]))


def _pipeline_layers(run: Run, jobs: list[dict], files: int) -> dict:
    rec = run.rec
    req = [s for s in rec.spans if s.name.startswith("request.")]
    w_req = [s for s in req if s.name == "request.write"]
    r_req = [s for s in req if s.name == "request.replay"]
    appends = _spans(rec, "sink.append")
    offered = sum(s.attrs["offered"] for s in appends)
    written = sum(s.attrs["rows"] for s in appends)
    run.samples.update(
        {"pipeline.write_s_p50": len(w_req), "pipeline.replay_s_p50": len(r_req),
         "sink.append_s_p50": len(appends)}
    )
    return {
        "pipeline.write_s_p50": median([s.duration for s in w_req]),
        "pipeline.replay_s_p50": median([s.duration for s in r_req]),
        "pipeline.enrich_construct_s": median(
            [s.duration for s in _spans(rec, "pipeline.enrich_candles")]
        ),
        "sources.load_s": _sources_load_s(rec),
        "sink.calls": len(appends),
        "sink.append_s_p50": median([s.duration for s in appends]),
        "sink.busy_s": sum(s.duration for s in appends),
        "sink.rows_offered": offered,
        "sink.rows_written": written,
        "sink.useful_ratio": written / offered if offered else 0.0,
        "sink.jobs_per_call": median([s.attrs["jobs"] for s in appends]),
        "sink.files_end": files,
        "session_batch.jobs_per_write": median([s.attrs["jobs"] for s in w_req]),
        "session_batch.jobs_per_replay": median([s.attrs["jobs"] for s in r_req]),
        "session_batch.stages_per_write": median([s.attrs["stages"] for s in w_req]),
        "session_batch.tasks_per_write": median([s.attrs["tasks"] for s in w_req]),
        "trace.overhead_share": run.overhead(
            [j["write"] + j["replay"] for j in jobs if not j["traced"]],
            [j["write"] + j["replay"] for j in jobs if j["traced"]],
        ),
        "trace.coverage_min": _coverage_min(rec),
    }


class StageProgress(StreamingQueryListener):
    """Keeps every micro-batch progress event of the streaming stages,
    with the time it arrived. Callbacks only append: the listener bus
    drops events for a listener that cannot keep up."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.events.append(
            {
                "stage": p.name,
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state": [
                    (s.numRowsTotal, s.memoryUsedBytes, s.numRowsDroppedByWatermark)
                    for s in p.stateOperators
                ],
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


#: (symbol, window) slots of the streamed ticks that the watermark closes:
#: window end + watermark at or before the last tick's time
CLOSABLE_SQL = """
WITH t AS (SELECT symbol, epoch_us(ts) AS us FROM read_parquet(?))
SELECT DISTINCT symbol, us // 300000000 AS k FROM t
WHERE (us // 300000000 + 1) * 300000000 + ? <= (SELECT max(us) FROM t)
"""


def _stream_day(run: Run, day_dir: str) -> tuple[float, StageProgress, int]:
    """Publish one day as ``STREAM_FILES`` tick files, run
    ``pipeline.run_streaming`` with a dense path over them until every
    stage has drained, and check the sink. Returns the drain time, the
    progress events and the tick count."""
    base = os.path.join(run.work, "stream")
    src = os.path.join(base, "ticks")
    n_ticks = gen.tick_files(day_dir, src, STREAM_FILES)
    listener = StageProgress()
    spark = run.spark
    spark.streams.addListener(listener)
    ticks = (
        spark.readStream.schema("symbol string, price double, ts timestamp, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = os.path.join(base, "sink")
    t0 = time.perf_counter()
    queries = pipeline.run_streaming(
        ticks,
        os.path.join(base, "candles"),
        sink,
        os.path.join(base, "ckpt"),
        dense_path=os.path.join(base, "dense"),
    )
    try:
        # a stage reads its upstream's files, so it may see the last of
        # them only on a later trigger: drain in stage order until a
        # round runs no batch
        last = None
        for _ in range(6):
            for q in queries:
                q.processAllAvailable()
            now = [q.lastProgress and q.lastProgress["batchId"] for q in queries]
            if now == last:
                break
            last = now
        drain = time.perf_counter() - t0
    finally:
        for q in queries:
            q.stop()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        spark.streams.removeListener(listener)

    rows, distinct, _ = _sink_ids(sink)
    run.check(rows == distinct, f"stream sink holds {rows - distinct} duplicate ids")
    files = glob.glob(os.path.join(sink, "**", "*.parquet"), recursive=True)
    missing = duckdb.execute(
        f"SELECT count(*) FROM ({CLOSABLE_SQL}) c ANTI JOIN "
        "(SELECT symbol, epoch_us(window_start) // 300000000 AS k FROM read_parquet(?)) s "
        "USING (symbol, k)",
        [glob.glob(os.path.join(src, "*.parquet")), WATERMARK_US, files],
    ).fetchone()[0]
    run.check(missing == 0, f"stream sink lacks {missing} closable (symbol, window) rows")
    return drain, listener, n_ticks


def _streaming_layers(run: Run, day_dir: str) -> dict:
    got = run.attempt(_stream_day, run, day_dir)
    if got is None:
        return {}
    drain, listener, n_ticks = got
    out = {"streaming.drain_s": drain, "streaming.ticks": n_ticks}
    for stage in STAGES:
        evs = [e for e in listener.events if e["stage"] == stage]
        trig = [e["ms"].get("triggerExecution", 0) for e in evs]
        state = [s for e in evs for s in e["state"]]
        run.samples[f"{stage}.batch_ms_*"] = len(evs)
        out.update(
            {
                f"{stage}.batches": len(evs),
                f"{stage}.batch_ms_p50": median(trig),
                f"{stage}.batch_ms_p90": _quantile(trig, 0.9),
                f"{stage}.add_batch_ms_p50": median([e["ms"].get("addBatch", 0) for e in evs]),
                f"{stage}.busy_share": sum(trig) / 1000 / drain,
                f"{stage}.input_rows": sum(e["rows"] for e in evs),
                f"{stage}.state_rows_max": max((s[0] for s in state), default=0),
                f"{stage}.state_bytes_max": max((s[1] for s in state), default=0),
                f"{stage}.dropped_by_watermark": sum(s[2] for s in state),
            }
        )
    out["candles.latest_offset_ms_p50"] = median(
        [e["ms"].get("latestOffset", 0) for e in listener.events if e["stage"] == "candles"]
    )
    return out


def _quantile(xs: list, q: float) -> float:
    """The ``q`` quantile of ``xs`` by linear interpolation (0 if empty)."""
    return float(np.quantile(xs, q)) if xs else 0.0


# ---------------------------------------------------------------------------
# llm_curation
# ---------------------------------------------------------------------------


#: float columns match within these tolerances; every other column must be
#: equal. Spark and DuckDB sum in different orders, so a float can differ
#: in its last bits (seen: 5e-16 on quality_train_score's score for some
#: seeds).
FLOAT_RTOL, FLOAT_ATOL = 1e-9, 1e-12


def _same(cc, got, want) -> bool:
    """``check_correctness``'s comparison (columns, row count, value hash)
    on the non-float columns, and the float columns within tolerance."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    floats = [c for c in got.columns if pd.api.types.is_float_dtype(got[c])]
    exact = [c for c in got.columns if c not in floats]
    if cc.value_hash(got[exact]) != cc.value_hash(want[exact]):
        return False
    got = got.sort_values(exact + floats, ignore_index=True)
    want = want.sort_values(exact + floats, ignore_index=True)
    return all(
        np.allclose(got[c], want[c], rtol=FLOAT_RTOL, atol=FLOAT_ATOL, equal_nan=True)
        for c in floats
    )


def llm_curation(run: Run) -> None:
    sf_dir = os.path.join(run.inputs, "corpus")
    t0 = time.perf_counter()
    rows = gen.corpus(run.seed, sf_dir)
    run.generate_s = time.perf_counter() - t0
    run.generated_rows = rows
    run.digest = gen.digest(run.inputs)

    cc = _load_tool(run.root, "check_correctness")  # normalize, value_hash
    hygiene = bench._clear_state  # the cross-query hygiene of bench.py
    qs = registry.queries()
    got = {}

    sql = registry.oracle_sql()
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        want = {q: cc.normalize(con.execute(sql[q]).fetchdf()) for q in MIX}

    def warmup():
        for q in MIX:
            hygiene(run.spark)
            got[q] = run.attempt(lambda: qs[q](run.spark, sf_dir).toPandas())

    run.set_up(warmup)
    for q in MIX:
        if got[q] is not None:
            run.check(_same(cc, cc.normalize(got[q]), want[q]), f"{q} differs from its oracle")

    def construct(q):
        return qs[q](run.spark, sf_dir)

    def execute(df):
        df.write.format("noop").mode("overwrite").save()

    passes: list[tuple[float, bool]] = []
    for p in run.until_deadline():
        run.rec.enabled = run.traced(p)
        wall = 0.0
        for q in MIX:
            hygiene(run.spark)
            with run.rec.span("request.query", request=f"p{p}.{q}", query=q):
                t0 = time.perf_counter()
                with run.rec.span("registry.construct", jobs=True, query=q):
                    df = run.attempt(construct, q)
                with run.rec.span("registry.exec", jobs=True, query=q):
                    if df is not None:
                        run.attempt(execute, df)
                wall += time.perf_counter() - t0
        passes.append((wall, run.rec.enabled))
        run.rec.enabled = False
    run.job_s = passes

    plain = [s for s, t in passes if not t]
    run.e2e = {
        "job_p50_s": median(plain),
        "rows_per_s": rows * len(plain) / sum(plain),
    }
    run.samples.update({"setup_s": 1, "job_p50_s": len(plain), "rows_per_s": len(plain)})
    if run.trace:
        run.layers.update(_curation_layers(run, passes))


def _curation_layers(run: Run, passes) -> dict:
    out = {}
    for phase in ("construct", "exec"):
        spans = _spans(run.rec, f"registry.{phase}")
        for q in MIX:
            mine = [s for s in spans if s.attrs["query"] == q]
            out[f"q.{q}.{phase}_s"] = median([s.duration for s in mine])
            out[f"q.{q}.{phase}_jobs"] = median([s.attrs["jobs"] for s in mine])
            run.samples[f"q.{q}.{phase}_*"] = len(mine)
        out[f"curation.{phase}_s"] = sum(out[f"q.{q}.{phase}_s"] for q in MIX)
        out[f"curation.{phase}_jobs"] = sum(out[f"q.{q}.{phase}_jobs"] for q in MIX)
    total = out["curation.construct_s"] + out["curation.exec_s"]
    out["curation.construct_share"] = out["curation.construct_s"] / total if total else 0.0
    out["trace.overhead_share"] = run.overhead(
        [s for s, t in passes if not t], [s for s, t in passes if t]
    )
    out["trace.coverage_min"] = _coverage_min(run.rec)
    out["sources.load_s"] = _sources_load_s(run.rec)
    return out


WORKLOADS = {"session_batch": session_batch, "llm_curation": llm_curation}
