"""Streaming soak: drive the 3-stage pipeline (windowed OHLC → densify →
stateful ATR) over a ×N replicated tick replay split into ≥50 time-ordered
micro-batches, and measure per-batch latency against the reference's 30 s
``WRITE_TIMEOUT_S`` NFR plus state-store growth across batches.

Replay construction mirrors tools/scale_probe.py's events axis (suffixed
symbol universes — more instruments, constant per-symbol window size),
already in tick shape (symbol, price, ts, event_id, user_id). The time
range is sliced into ``n_batches`` equal chunks written as sequential
single part-files, so the file source with ``maxFilesPerTrigger=1``
replays them in event-time order and the watermark advances every batch
(the live-feed shape: state for closed windows is continuously evicted).

Usage: python tools/streaming_soak.py [factor] [n_batches]
Prints one JSON line:
  {"factor": N, "batches": {...per-stage batch stats...},
   "state_rows": {...first/mid/last...}, "nfr_write_timeout_s": 30,
   "max_batch_s": ..., "pass": bool}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from options_data_pipeline_spark.pipeline import run_streaming  # noqa: E402
from options_data_pipeline_spark.session import get_spark  # noqa: E402
from options_data_pipeline_spark.sources.tables import load_ticks  # noqa: E402

TICK_SCHEMA = "symbol string, price double, ts timestamp, event_id long, user_id long"
NFR_WRITE_TIMEOUT_S = 30.0  # reference write_pipeline.py WRITE_TIMEOUT_S


def build_replay(spark, src_sf_dir: str, out_dir: str, factor: int, n_batches: int) -> int:
    ticks = load_ticks(spark, src_sf_dir)
    base = ticks.agg((F.max("event_id") + 1).alias("m")).first().m
    reps = []
    for r in range(factor):
        reps.append(
            ticks.select(
                F.concat("symbol", F.lit(f"_r{r}")).alias("symbol"),
                "price",
                "ts",
                (F.col("event_id") + F.lit(r * base)).alias("event_id"),
                "user_id",
            )
        )
    import functools

    from pyspark.sql import DataFrame

    df = functools.reduce(DataFrame.unionByName, reps)
    b = df.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count(F.lit(1)).alias("n")
    ).first()
    lo_s, hi_s = b.lo.timestamp(), b.hi.timestamp()
    span = (hi_s - lo_s) / n_batches or 1.0
    os.makedirs(out_dir, exist_ok=True)
    stage = tempfile.mkdtemp(prefix="soak_stage_")
    try:
        # ONE distributed pass: tag each tick with its replay slice, hash-
        # repartition on the slice (one task → one file per slice dir),
        # partitioned write; then promote files driver-side in slice order
        # so mtimes are strictly increasing (the file source's replay
        # order). A per-slice coalesce(1) loop would recompute the ×N
        # union once per slice, single-threaded — measured unusable.
        sliced = df.withColumn(
            "slice",
            F.least(
                F.floor((F.col("ts").cast("double") - F.lit(lo_s)) / F.lit(span)),
                F.lit(n_batches - 1),
            ).cast("int"),
        )
        sliced.repartition(n_batches, F.col("slice")).write.mode(
            "overwrite"
        ).partitionBy("slice").parquet(stage)
        t0 = time.time()
        seq = 0
        for i in range(n_batches):
            d = os.path.join(stage, f"slice={i}")
            if not os.path.isdir(d):
                continue
            parts = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
            for pi, part in enumerate(parts):
                dst = os.path.join(out_dir, f"{i:04d}-{pi}.parquet")
                os.rename(os.path.join(d, part), dst)
                # rename preserves the PARALLEL write's mtimes — i.e. task
                # completion order — and the file source replays by mtime;
                # pin strictly increasing mtimes so replay follows event
                # time (watermark advances monotonically)
                seq += 1
                os.utime(dst, (t0 + seq, t0 + seq))
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return b.n


def batch_stats(progresses) -> dict:
    durs = [
        p["batchDuration"] / 1000.0
        for p in progresses
        if p.get("numInputRows", 0) > 0 or p.get("batchDuration", 0) > 0
    ]
    if not durs:
        return {"n": 0}
    durs_sorted = sorted(durs)
    return {
        "n": len(durs),
        "mean_s": round(sum(durs) / len(durs), 3),
        "p95_s": round(durs_sorted[int(0.95 * (len(durs_sorted) - 1))], 3),
        "max_s": round(max(durs), 3),
        # which batch was the max — batch 0 is plan-compile + cold-cache
        # warmup, a structurally different cost than steady-state
        "max_i": durs.index(max(durs)),
    }


def state_rows(progresses) -> list[int]:
    out = []
    for p in progresses:
        ops = p.get("stateOperators") or []
        out.append(sum(op.get("numRowsTotal", 0) for op in ops))
    return out


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 60
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark("streaming-soak")
    work = tempfile.mkdtemp(prefix=f"soak_x{factor}_")
    replay = os.path.join(work, "replay")
    try:
        n_rows = build_replay(spark, src, replay, factor, n_batches)
        tick_stream = (
            spark.readStream.schema(TICK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        t0 = time.perf_counter()
        # SPARK_GRAFT_SOAK_MAINTAIN=<N>: write the final stage through
        # the versioned manifest sink with OPTIMIZE/VACUUM every N
        # batches (in-loop, serialized with appends) — exercises the
        # maintenance pair under live ingest instead of in isolation
        maintain = os.environ.get("SPARK_GRAFT_SOAK_MAINTAIN")
        metrics_path = os.path.join(work, "pipeline_metrics")
        queries = run_streaming(
            tick_stream,
            candle_path=os.path.join(work, "candles"),
            sink_path=os.path.join(work, "sink"),
            checkpoint_path=os.path.join(work, "ckpt"),
            dense_path=os.path.join(work, "dense"),
            watermark="1 second",
            manifest_maintain_every=int(maintain) if maintain else None,
            metrics_path=metrics_path,
        )
        # drain in dependency order; downstream sources are files, so each
        # processAllAvailable sees everything its upstream already wrote
        for q in queries:
            q.processAllAvailable()
        for q in queries:
            q.stop()
        wall = time.perf_counter() - t0

        names = ["ohlc", "densify", "atr"]
        progress = {
            n: [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
            for n, q in zip(names, queries)
        }
        stats = {n: batch_stats(ps) for n, ps in progress.items()}
        ohlc_state = state_rows(progress["ohlc"])
        mid, last = (
            (ohlc_state[len(ohlc_state) // 2], ohlc_state[-1]) if ohlc_state else (0, 0)
        )
        max_batch = max(
            (s.get("max_s", 0.0) for s in stats.values() if s.get("n")), default=0.0
        )
        if maintain:
            from options_data_pipeline_spark.streaming.sink import (
                manifest_sink_read,
                manifest_versions,
            )

            sink_df = manifest_sink_read(spark, os.path.join(work, "sink"))
            out_rows = sink_df.count()
            n_compactions = len(
                [m for m in manifest_versions(os.path.join(work, "sink"))
                 if m.get("replaces")]
            )
        else:
            out_rows = spark.read.parquet(os.path.join(work, "sink")).count()
            n_compactions = 0
        # the observability table the listener landed during the soak:
        # per-stage p50/p95/p99 trigger wall-clock from pipeline_metrics
        from options_data_pipeline_spark.streaming.metrics import (
            detach_metrics,
            read_metrics,
            stage_latency_report,
        )

        if queries.metrics is not None:
            time.sleep(2)  # let in-flight bus events land in the buffer
            detach_metrics(spark, queries.metrics)
        metrics_report = {
            r["stage"]: {
                "n_batches": r["n_batches"],
                "wall_p50_ms": r["wall_p50_ms"],
                "wall_p95_ms": r["wall_p95_ms"],
                "wall_p99_ms": r["wall_p99_ms"],
                "total_rows": r["total_rows"],
                "max_state_rows": r["max_state_rows"],
            }
            for r in stage_latency_report(
                read_metrics(spark, metrics_path)
            ).collect()
        }
        print(
            json.dumps(
                {
                    "factor": factor,
                    "n_batches_requested": n_batches,
                    "input_rows": n_rows,
                    "sink_rows": out_rows,
                    "wall_s": round(wall, 1),
                    "batches": stats,
                    "ohlc_state_rows_mid_last": [mid, last],
                    "nfr_write_timeout_s": NFR_WRITE_TIMEOUT_S,
                    "max_batch_s": max_batch,
                    "maintain_every": int(maintain) if maintain else None,
                    "n_compactions": n_compactions,
                    "pipeline_metrics": metrics_report,
                    "pass": max_batch < NFR_WRITE_TIMEOUT_S,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
