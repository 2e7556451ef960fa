"""pipeline_metrics observability (round-12 verdict item 3): the
MetricsListener lands per-stage micro-batch progress AND alert rows in
one parquet table; stage_latency_report serves the reference's A7
percentile report at pipeline grain."""

from __future__ import annotations

import shutil
import tempfile
import time
from datetime import datetime, timedelta

import pytest

from options_data_pipeline_spark.pipeline import run_streaming
from options_data_pipeline_spark.streaming.listeners import AlertManager
from options_data_pipeline_spark.streaming.metrics import (
    METRICS_SCHEMA,
    MetricsListener,
    attach_metrics,
    detach_metrics,
    read_metrics,
    stage_latency_report,
)

TICK_SCHEMA = "symbol string, price double, ts timestamp, event_id long"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="odp_metrics_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _wait_for(pred, timeout_s=30.0):
    """Listener-bus delivery is async; poll until pred() or timeout."""
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if pred():
            return True
        time.sleep(0.5)
    return pred()


def test_pipeline_populates_metrics_table(spark, tmpdir):
    """run_streaming(metrics_path=...) → one metric row per (stage,
    micro-batch), stage labels from the query names, rows/wall_ms sane."""
    base = datetime(2024, 1, 5, 9, 15)
    rows = [
        ("A", 100.0 + i, base + timedelta(minutes=5 * i, seconds=10), i)
        for i in range(4)
    ]
    spark.createDataFrame(rows, TICK_SCHEMA).write.parquet(tmpdir + "/src")
    stream = spark.readStream.schema(TICK_SCHEMA).parquet(tmpdir + "/src")
    metrics_path = tmpdir + "/pipeline_metrics"
    listeners = spark._jsparkSession.streams().listListeners
    n_before = len(listeners())
    queries = run_streaming(
        stream,
        tmpdir + "/candles",
        tmpdir + "/sink",
        tmpdir + "/ckpt",
        metrics_path=metrics_path,
    )
    assert queries.metrics is not None
    assert len(listeners()) == n_before + 1  # one listener for every stage

    def _stages():
        queries.metrics.flush()
        try:
            return {
                r.stage
                for r in read_metrics(spark, metrics_path)
                .select("stage")
                .distinct()
                .collect()
            }
        except Exception:
            return set()

    try:
        for q in queries:
            q.processAllAvailable()
        # progress events are delivered async on the listener bus; both
        # stages must land before we unhook
        assert _wait_for(lambda: {"candles", "enriched"} <= _stages())
    finally:
        for q in queries:
            q.stop()
        detach_metrics(spark, queries.metrics)

    m = read_metrics(spark, metrics_path)
    got = {r.stage for r in m.select("stage").distinct().collect()}
    assert {"candles", "enriched"} <= got
    metric_rows = m.filter("level IS NULL").collect()
    assert all(r.batch_id >= 0 and r.wall_ms >= 0 for r in metric_rows)
    # the candles stage saw all 4 input ticks across its batches
    fed = sum(r.rows for r in metric_rows if r.stage == "candles")
    assert fed == 4
    rep = {r.stage: r for r in stage_latency_report(m).collect()}
    assert rep["candles"].n_batches >= 1
    assert rep["candles"].total_rows == 4
    assert rep["candles"].wall_p95_ms >= rep["candles"].wall_p50_ms


def test_alert_rows_share_table_and_escalate(spark, tmpdir):
    """AlertManager(on_fire=listener.alert_row): the 3rd consecutive
    WARNING escalates to CRITICAL and lands in the SAME metrics table,
    queryable next to the latency rows."""
    path = tmpdir + "/pm"
    listener = MetricsListener(spark, path)
    alerts = AlertManager(escalate_after=3, on_fire=listener.alert_row)
    for _ in range(3):
        alerts.fire("WARNING", "STREAM_SILENT", window="candles", details="idle")
    listener.close()
    rows = read_metrics(spark, path).filter("level IS NOT NULL").collect()
    assert len(rows) == 3
    levels = sorted(r.level for r in rows)
    assert levels == ["CRITICAL", "WARNING", "WARNING"]
    assert all(r.event == "STREAM_SILENT" and r.stage == "candles" for r in rows)
    # metric columns are NULL on alert rows — the two kinds coexist
    assert all(r.batch_id is None and r.wall_ms is None for r in rows)


def _progress(stage: str, batch_id: int, rows: int):
    """A stand-in QueryProgressEvent: the listener reads only
    ``event.progress.json``."""
    import json
    from types import SimpleNamespace

    p = {"name": stage, "batchId": batch_id, "numInputRows": rows,
         "timestamp": "2024-01-05T09:15:00.000Z"}
    return SimpleNamespace(progress=SimpleNamespace(json=json.dumps(p)))


def test_silence_is_counted_per_stage(spark, tmpdir):
    """Stage `a` idles five triggers in a row while stage `b` keeps
    delivering rows in between: `a` goes silent at its third empty
    trigger and escalates at its third alert, `b` never alerts, and `b`'s
    batches reset neither `a`'s count nor its escalation."""
    path = tmpdir + "/pm"
    listener = MetricsListener(spark, path)
    for i in range(5):
        listener.onQueryProgress(_progress("a", i, 0))
        listener.onQueryProgress(_progress("b", i, 5))
    listener.close()
    alerts = (
        read_metrics(spark, path).filter("level IS NOT NULL").orderBy("details")
        .collect()
    )
    assert [(r.stage, r.event, r.level, r.details) for r in alerts] == [
        ("a", "STREAM_SILENT", "WARNING", "3 empty triggers"),
        ("a", "STREAM_SILENT", "WARNING", "4 empty triggers"),
        ("a", "STREAM_SILENT", "CRITICAL", "5 empty triggers"),
    ]


def test_injected_failure_lands_critical_row(spark, tmpdir):
    """A stage that dies mid-stream → onQueryTerminated(exception) writes
    a CRITICAL STREAM_FAILED row to the metrics table."""
    spark.createDataFrame(
        [("A", 1.0)], "symbol string, price double"
    ).write.parquet(tmpdir + "/src")
    metrics_path = tmpdir + "/pm"
    listener = attach_metrics(spark, metrics_path)

    def boom(batch, _bid):
        raise RuntimeError("injected stage failure")

    q = (
        spark.readStream.schema("symbol string, price double")
        .parquet(tmpdir + "/src")
        .writeStream.queryName("failing_stage")
        .foreachBatch(boom)
        .option("checkpointLocation", tmpdir + "/ckpt")
        .start()
    )
    def _has_alert():
        listener.flush()
        try:
            return bool(
                read_metrics(spark, metrics_path)
                .filter("event = 'STREAM_FAILED'")
                .take(1)
            )
        except Exception:
            return False

    try:
        with pytest.raises(Exception):
            q.processAllAvailable()
    finally:
        q.stop()
        assert _wait_for(_has_alert), "termination alert never arrived"
        detach_metrics(spark, listener)
    rows = (
        read_metrics(spark, metrics_path)
        .filter("event = 'STREAM_FAILED'")
        .collect()
    )
    assert len(rows) == 1 and rows[0].level == "CRITICAL"
    assert rows[0].details  # the stage exception text rides along


def test_stage_latency_report_exact(spark):
    """Report semantics pinned against hand-computed percentiles; alert
    rows are excluded from the aggregation."""
    mrows = [
        (datetime(2024, 1, 1), "s1", i, 10 * (i + 1), 100 * (i + 1), 5, None, 1,
         None, None, None)
        for i in range(5)
    ] + [
        (datetime(2024, 1, 1), "s1", None, None, None, None, None, None,
         "CRITICAL", "STREAM_FAILED", "x")
    ]
    m = spark.createDataFrame(mrows, METRICS_SCHEMA)
    [r] = stage_latency_report(m).collect()
    assert r.stage == "s1" and r.n_batches == 5
    # wall_ms = 100..500: p50=300, p95=480, p99=496 (linear interpolation)
    assert r.wall_p50_ms == 300.0
    assert abs(r.wall_p95_ms - 480.0) < 1e-9
    assert abs(r.wall_p99_ms - 496.0) < 1e-9
    assert r.total_rows == 10 + 20 + 30 + 40 + 50
    assert r.max_state_rows == 5 and r.total_dropped == 5
