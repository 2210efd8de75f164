"""Tests for the benchmark itself: generator determinism, the metric lists
against ``BENCHMARK.json``, span arithmetic, and a tiny-size run of every
workload (untraced and traced) that checks each named metric is printed
with its unit.

Run from the repository root: ``python3 -m pytest perfbench -q``.  The
tiny runs start a Spark session each and take about a minute apiece.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _digest(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


def test_etl_generator_is_deterministic(tmp_path):
    a = gen.gen_etl_hours(7, tmp_path / "a", [500, 200])
    b = gen.gen_etl_hours(7, tmp_path / "b", [500, 200])
    c = gen.gen_etl_hours(8, tmp_path / "c", [500, 200])
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert [h.vehicle_keys for h in a] == [h.vehicle_keys for h in b]


def test_etl_generator_plants_its_shares(tmp_path):
    (hour,) = gen.gen_etl_hours(3, tmp_path, [1000])
    dups = round(1000 * gen.ETL_DUP_SHARE)
    late = round(1000 * gen.ETL_LATE_SHARE)
    bad = round(1000 * gen.ETL_BAD_SHARE)
    assert hour.rows_staged == 1000 + dups
    assert hour.lines == 1000 + dups + late + bad
    assert len(hour.vehicle_keys) + len(hour.period_keys) == 1000
    lines = [ln for p in sorted(tmp_path.glob("*.jsonl")) for ln in p.read_text().split("\n")[:-1]]
    assert len(lines) == hour.lines
    parsed = []
    for ln in lines:
        try:
            parsed.append(json.loads(ln))
        except json.JSONDecodeError:
            continue
    in_hour = [e for e in parsed if e["at"].startswith(f"{hour.start:%Y-%m-%dT%H}")]
    assert len(in_hour) == hour.rows_staged
    assert len(parsed) - len(in_hour) == late


def test_corpus_generator_is_deterministic(tmp_path):
    a = gen.gen_corpus(5, tmp_path / "a", 300)
    b = gen.gen_corpus(5, tmp_path / "b", 300)
    c = gen.gen_corpus(6, tmp_path / "c", 300)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert a.exact_families == b.exact_families and a.near_families == b.near_families
    for fam in a.exact_families:
        assert len({a.texts[d] for d in fam}) == 1
    assert sum(len(f) - 1 for f in a.exact_families) == int(300 * gen.CUR_EXACT_SHARE)


def test_curation_removal_bounds(tmp_path):
    w = run.wl.CurationDedup(tmp_path, 5, 1, tiny=True)
    w.generate()
    bounds = w.removal_bounds()
    lo, hi = bounds["near_dedup"]
    assert 0 < lo <= hi < len(w.corpus.near_families) * 3
    lo, hi = bounds["decontaminate"]
    assert 0 <= lo <= hi


def test_metric_lists_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.wl.WORKLOADS)


def test_span_reductions():
    t = spans.Tracer()
    with t.operation("op-0"):
        with t.span("pipeline.ingestor"):
            with t.span("pipeline.bookkeeping.next_fetch_hour"):
                with t.span("pipeline.bookkeeping.last_successful_fetch_hour"):
                    pass
    with t.span("pipeline.ingestor"):  # outside an operation: ignored
        pass
    ing, nxt, last, _ = t.spans
    dur = {s["id"]: s["end"] - s["start"] for s in t.spans}
    assert t.self_time("pipeline.ingestor") == pytest.approx(dur[ing["id"]] - dur[nxt["id"]])
    secs, calls = t.total_prefix("pipeline.bookkeeping.")
    assert calls == 1 and secs == pytest.approx(dur[nxt["id"]])
    assert t.count("pipeline.ingestor") == 1
    assert last["parent"] == nxt["id"] and nxt["trace"] == "op-0"


def test_call_site_module():
    site = "count at /x/door2door_etl_spark/pipeline/ingestor.py:52"
    assert spans.call_site_module(site) == "pipeline.ingestor"
    assert spans.call_site_module("parquet at NativeMethodAccessorImpl.java:0") is None
    assert spans.call_site_module("collect at /x/perfbench/workloads.py:9") is None
    assert run.module_of("queries.northstar_catalog") == "queries"
    assert run.module_of("io.versioned.merge") == "io.versioned"
    assert run.module_of("perfbench") == "other"


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_hourly", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()
    assert sorted(p.name for p in tmp_path.iterdir()) == ["BENCHMARK.json", "perfbench"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(run.wl.WORKLOADS))
def test_tiny_run_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = run.PER_LAYER if trace else run.END_TO_END
    assert [(k, v["unit"]) for k, v in result["metrics"].items()] == declared
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert not (ROOT / run.WORK_DIR).exists()
