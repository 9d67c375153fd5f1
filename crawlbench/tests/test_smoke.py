"""Smoke test of the benchmark runner at tiny sizes (several minutes: each
run starts its own Spark session).

Run: python3 -m pytest crawlbench/tests/test_smoke.py -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = sorted({w["name"] for w in SPEC["workloads"]} | {"crawl_snapshot"})


def _run(workload, trace, cwd=ROOT, scale="0.3"):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "crawlbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", scale],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


@pytest.fixture(scope="module")
def results():
    out = {}
    for w in WORKLOADS:
        for trace in (0, 1):
            p = _run(w, trace)
            assert p.returncode == 0, p.stderr[-3000:]
            out[w, trace] = json.loads(p.stdout.strip().splitlines()[-1])
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_with_its_unit(results, workload):
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = results[workload, trace]
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
        assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    for name, m in results[workload, 0]["metrics"].items():
        assert m["value"] > 0, name  # end-to-end metrics are never 0


def test_layers_work_where_exercised_and_idle_where_bypassed(results):
    def layer(w):
        return {k: v["value"] for k, v in results[w, 1]["metrics"].items()}

    tick, snap, cur = layer("recrawl_tick"), layer("crawl_snapshot"), layer("curation_queries")
    for name in ("crawl.jobs", "listparse.pages_in", "listparse.rows_out", "seen.keys_probed",
                 "extract.busy_ms", "politeness.busy_ms"):
        assert tick[name] > 0 and snap[name] > 0 and cur[name] == 0, name
    for name in ("fetch.requests", "fetch.busy_ms", "upsert.rows_in", "upsert.partitions_touched",
                 "cadence.seen_mb", "politeness.min_host_gap_ms"):
        assert tick[name] > 0 and snap[name] == 0 and cur[name] == 0, name
    assert snap["seen.survivor_ratio"] == 1.0 and tick["seen.survivor_ratio"] < 0.5
    for name in ("dedup.candidate_rows", "similarity.candidate_rows", "dedup.q15_ms",
                 "textstats.q09_ms", "webquality.q36_ms", "retrieval.q50_ms"):
        assert cur[name] > 0 and tick[name] == 0 and snap[name] == 0, name


def test_exits_nonzero_without_printing_when_the_engine_is_absent(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "crawlbench",
                    ignore=shutil.ignore_patterns(".work", "results", "__pycache__"))
    p = _run(SPEC["workloads"][0]["name"], 0, cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout == ""
