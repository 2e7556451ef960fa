"""Benchmark entry point.

    python3 perfbench/run.py --workload session_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The inputs are made from ``--seed``
(``gen.py``), the workload runs for ``--seconds`` (``workloads.py``), its
outputs are checked, and the last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics of the
traced run with ``--trace 1``. The line before it carries diagnostics:
the input digest and generation time, the set-up parts, every timed
job, the number of samples behind each metric, and in a traced run the
host stamp.

Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (the span dump of a traced run) in the
checkout. Spark runs ``local[<usable cores>]``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = {
    "setup_s": "s",
    "live_heap_mb": "MB",
    "job_p50_s": "s",
    "rows_per_s": "rows/s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit. A workload reports 0 for
    a layer it does not exercise."""
    from workloads import MIX, OPERATORS, STAGE_METRICS, STAGES

    units = {
        "memory.peak_rss_mb": "MB",
        "session.start_s": "s",
        "setup.warmup_s": "s",
        "generator.s": "s",
        "generator.rows": "count",
        "sources.load_s": "s",
        "pipeline.write_s_p50": "s",
        "pipeline.replay_s_p50": "s",
        "pipeline.enrich_construct_s": "s",
        "sink.calls": "count",
        "sink.append_s_p50": "s",
        "sink.busy_s": "s",
        "sink.rows_offered": "count",
        "sink.rows_written": "count",
        "sink.useful_ratio": "ratio",
        "sink.jobs_per_call": "count",
        "sink.files_end": "count",
        "session_batch.jobs_per_write": "count",
        "session_batch.jobs_per_replay": "count",
        "session_batch.stages_per_write": "count",
        "session_batch.tasks_per_write": "count",
    }
    units.update({f"operators.{op}.exec_s": "s" for op in OPERATORS})
    units.update({"streaming.drain_s": "s", "streaming.ticks": "count"})
    for stage in STAGES:
        units.update({f"{stage}.{m}": unit for m, unit in STAGE_METRICS.items()})
    units["candles.latest_offset_ms_p50"] = "ms"
    for q in MIX:
        units.update(
            {
                f"q.{q}.construct_s": "s",
                f"q.{q}.exec_s": "s",
                f"q.{q}.construct_jobs": "count",
                f"q.{q}.exec_jobs": "count",
            }
        )
    units.update(
        {
            "curation.construct_s": "s",
            "curation.exec_s": "s",
            "curation.construct_jobs": "count",
            "curation.exec_jobs": "count",
            "curation.construct_share": "ratio",
            "trace.overhead_share": "ratio",
            "trace.coverage_min": "ratio",
        }
    )
    return units


def _pin_environment(work: str) -> int:
    """Keep every file the run writes inside ``work`` and size Spark to the
    cores this process may use. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            # the JVM's perf-data file goes to /tmp whatever java.io.tmpdir says
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_GRAFT_CPUS": str(cores),
        }
    )
    for knob in ("SPARK_GRAFT_CONF", "SPARK_GRAFT_DRIVER_JAVA_OPTS", "SPARK_DRIVER_MEMORY"):
        os.environ.pop(knob, None)
    return cores


def host_stamp(cores: int, inherited_cpus: str | None) -> dict:
    """Labels the run with the host it measured: usable cores (Spark runs
    ``local[nproc]``), the ``SPARK_GRAFT_CPUS`` the caller set, and
    ``bench.py``'s effective-core and DRAM-bandwidth probes. Taken before
    the JVM starts, outside every timed region."""
    import bench

    return {
        "nproc": cores,
        "SPARK_GRAFT_CPUS": inherited_cpus,
        "effective_cores": bench._effective_cores(cores),
        "mem_bw_gbps": bench._mem_bw_gbps(cores),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["session_batch", "llm_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    inherited_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    cores = _pin_environment(work)
    sys.path.insert(0, ROOT)  # the package, bench.py and tools/
    run = None
    try:
        import workloads

        host = host_stamp(cores, inherited_cpus) if args.trace else None
        run = workloads.Run(ROOT, work, args.seed, args.seconds, bool(args.trace))
        if run.trace:
            workloads.install_spans(run)
        workloads.WORKLOADS[args.workload](run)
        rss, heap = run.peak_rss_mb(), run.live_heap_mb()
        if run.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            run.rec.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        if run is not None and run.spark is not None:
            run.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(work))

    if run.trace:
        values = {
            "memory.peak_rss_mb": rss,
            "session.start_s": run.start_s,
            "setup.warmup_s": run.warmup_s,
            "generator.s": run.generate_s,
            "generator.rows": run.generated_rows,
            **run.layers,
        }
        metrics = {
            name: {"value": values.get(name, 0), "unit": unit}
            for name, unit in per_layer_units().items()
        }
    else:
        values = {"setup_s": run.setup_s, "live_heap_mb": heap, **run.e2e}
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in E2E.items()}
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "host": host,
                "input_digest": run.digest,
                "generate_s": run.generate_s,
                "start_s": run.start_s,
                "warmup_s": run.warmup_s,
                "job_s": run.job_s,
                "samples": {"live_heap_mb": 1, **run.samples},
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
