"""Tests of the benchmark's pure parts: the seeded generator, the statistics
and self-time helpers, and the metric names against BENCHMARK.json.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import gen
import run
import runtime
from stats import covered_seconds, median, quartiles, self_times, spread, summarize

ROOT = Path(__file__).resolve().parent.parent
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def _digest(root: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(root.rglob("*.parquet")):
        h.update(f.relative_to(root).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()


# ------------------------------------------------------------- generator

def test_nightly_inputs_follow_the_seed(tmp_path):
    a = gen.stage_nightly(7, tmp_path / "a", 2)
    b = gen.stage_nightly(7, tmp_path / "b", 2)
    c = gen.stage_nightly(8, tmp_path / "c", 2)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert (a.nights, a.mutated_keys, a.spread_days) == (b.nights, b.mutated_keys, b.spread_days)
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert a.nights != c.nights
    # the mutation set is a share of orders reaching into old partitions
    assert all(280 <= n <= 320 for n in a.mutated_keys)
    assert 11 <= a.spread_days <= 13


def test_sql_session_follows_the_seed(tmp_path):
    a = gen.stage_nightly(7, tmp_path / "a", 1)
    b = gen.stage_nightly(7, tmp_path / "b", 1)
    c = gen.stage_nightly(8, tmp_path / "c", 1)
    assert a.statements == b.statements
    assert a.statements != c.statements
    # every session holds the same mix: the read, the writes in a seeded
    # order, then the materialized-view read
    for plan in (a, c):
        kinds = [s.kind for s in plan.statements]
        assert kinds[0] == "range" and kinds[-1] == "mv"
        assert sorted(kinds[1:-1]) == sorted(gen.WRITE_KINDS)


def test_curation_inputs_follow_the_seed(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "N_UNIQUE", 600)
    monkeypatch.setattr(gen, "N_VECTORS", 300)
    a = gen.stage_curation(7, tmp_path / "a", 2)
    b = gen.stage_curation(7, tmp_path / "b", 2)
    c = gen.stage_curation(8, tmp_path / "c", 2)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert (a.near_pairs, a.query_batches) == (b.near_pairs, b.query_batches)
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert a.dup_share != c.dup_share
    assert 0.11 <= a.dup_share <= 0.13


# ------------------------------------------------------------ statistics

def test_median_and_quartiles_match_the_statistics_module():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
    assert median(values) == 5.5
    assert quartiles(values) == (2.75, 8.25)
    assert spread(values) == pytest.approx((8.25 - 2.75) / 5.5)
    assert quartiles([3.0]) == (3.0, 3.0)
    with pytest.raises(ValueError):
        median([])


def test_summarize_reads_result_lines():
    lines = ["op night 1.0s"] + [
        json.dumps({"correct": True, "attempted": 1, "failed": 0,
                    "metrics": {"job_s": {"value": v, "unit": "s"}}})
        for v in (1.0, 2.0, 3.0, 4.0)]
    s = summarize(lines)["job_s"]
    assert (s["n"], s["median"], s["q1"], s["q3"]) == (4, 2.5, 1.25, 3.75)
    assert s["spread"] == pytest.approx(1.0)


def test_covered_seconds_merges_overlaps_and_clips():
    assert covered_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered_seconds([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1.0
    assert covered_seconds([], 0, 1) == 0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        # two children overlap (a parallel reload): 2..6 is covered once
        {"id": 1, "parent": 0, "start": 2.0, "end": 5.0},
        {"id": 2, "parent": 0, "start": 4.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert self_times(spans) == {0: 6.0, 1: 2.0, 2: 2.0, 3: 1.0}


# ---------------------------------------------------------- metric names

def test_printed_metrics_are_the_ones_benchmark_json_declares():
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert run.END_TO_END == e2e
    assert run.PER_LAYER == layer
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(run.WORKLOADS)


def test_outside_a_checkout_the_benchmark_fails_without_a_result(tmp_path):
    """With only BENCHMARK.json and the benchmark's own files there is no
    package to measure: exit non-zero and print no result line."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in BENCHMARK["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, *BENCHMARK["command"][1:], "--workload",
         BENCHMARK["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# ------------------------------------------------------------ commit log

def test_commit_log_reads_action_records_only(tmp_path):
    """Checkpoints beside the records are not commits; a full-state record
    is diffed against the live files, and a truncating overwrite removes
    every live file."""
    log = tmp_path / "t" / "_log"
    log.mkdir(parents=True)
    ts = "2026-01-01T00:00:0{}Z"
    records = [
        {"ts": ts.format(0), "files": [{"path": "a", "rows": 2}, {"path": "b", "rows": 3}]},
        {"ts": ts.format(1), "add": [{"path": "c", "rows": 4}], "remove": ["a"]},
        {"ts": ts.format(2), "add": [{"path": "d", "rows": 1}], "remove": [], "remove_all": True},
    ]
    for v, rec in enumerate(records):
        (log / f"{v:020d}.json").write_text(json.dumps(rec))
    (log / f"{1:020d}.checkpoint.json").write_text(json.dumps({"ts": ts.format(1), "files": []}))
    commits = runtime.commit_log([tmp_path / "t"])
    assert [(c["files_added"], c["files_removed"], c["rows_added"]) for c in commits] == [
        (2, 0, 5), (1, 1, 4), (1, 2, 1)]
