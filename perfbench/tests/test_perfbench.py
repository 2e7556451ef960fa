"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke runs start a JVM each and take a minute or two apiece.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, covered, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_session_days_are_deterministic(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.session_days(7, 2, a)
    gen.session_days(7, 2, b)
    gen.session_days(8, 2, c)
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest(c)


def test_tick_files_publish_the_session_in_order(tmp_path):
    import pyarrow.parquet as pq

    (day, _), = gen.session_days(7, 1, str(tmp_path / "days"))
    n = gen.tick_files(day, str(tmp_path / "a"), 4)
    assert gen.tick_files(day, str(tmp_path / "b"), 4) == n
    assert gen.digest(str(tmp_path / "a")) == gen.digest(str(tmp_path / "b"))
    files = sorted((tmp_path / "a").iterdir())
    assert [f.name for f in files] == [f"ticks-{i:03d}.parquet" for i in range(4)]
    assert [f.stat().st_mtime for f in files] == sorted(f.stat().st_mtime for f in files)
    parts = [pq.read_table(f) for f in files]
    assert sum(p.num_rows for p in parts) == n == 180 * gen.TICKS_PER_SYMBOL_IN_SESSION
    assert all(a["ts"].to_pylist()[-1] < b["ts"].to_pylist()[0] for a, b in zip(parts, parts[1:]))
    assert not (tmp_path / "a.staging").exists()


def test_corpus_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert gen.corpus(7, a) == gen.corpus(7, b) == gen.N_DOCS
    gen.corpus(8, c)
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest(c)


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: union is [1, 6]
        Span("c", 8.0, 12.0, parent=0),  # runs past its parent: clipped to [8, 10]
        Span("a1", 1.5, 2.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 2, 3 - 0.5, 3, 4, 0.5])


def test_covered_ignores_intervals_outside_the_window():
    assert covered([(20.0, 30.0), (-5.0, -1.0)], 0.0, 10.0) == 0.0
    assert covered([(2.0, 3.0), (2.5, 2.6)], 0.0, 10.0) == pytest.approx(1.0)


def test_oracle_match_tolerates_only_float_rounding():
    import pandas as pd
    import workloads

    cc = workloads._load_tool(ROOT, "check_correctness")

    def frame(ids, xs, ks):
        return cc.normalize(pd.DataFrame({"id": ids, "x": xs, "k": ks}))

    base = frame([1, 2, 3], [0.1, 0.2, 0.3], ["a", "b", "c"])
    assert workloads._same(cc, base, frame([3, 1, 2], [0.3, 0.1 + 1e-16, 0.2], ["c", "a", "b"]))
    assert not workloads._same(cc, base, frame([3, 1, 2], [0.3, 0.1001, 0.2], ["c", "a", "b"]))
    assert not workloads._same(cc, base, frame([3, 1, 2], [0.3, 0.1, 0.2], ["c", "a", "z"]))
    assert not workloads._same(cc, base, frame([1, 2], [0.1, 0.2], ["a", "b"]))


def test_metric_names_fit_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    layers = run.per_layer_units()
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E)
    assert [m["name"] for m in spec["per_layer"]] == list(layers)
    assert [m["unit"] for m in spec["end_to_end"]] == list(run.E2E.values())
    assert [m["unit"] for m in spec["per_layer"]] == list(layers.values())
    assert 1 <= len(run.E2E) <= 16 and 1 <= len(layers) <= 128
    for name, unit in {**run.E2E, **layers}.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), unit
    assert [w["name"] for w in spec["workloads"]] == ["session_batch", "llm_curation"]


@pytest.mark.parametrize("workload", ["session_batch", "llm_curation"])
def test_smoke_run_passes_its_checks(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.per_layer_units())
    assert result["metrics"]["trace.coverage_min"]["value"] >= 0.9
    if workload == "session_batch":
        for stage in ("candles", "densify", "enriched"):
            assert result["metrics"][f"{stage}.batches"]["value"] >= 1
