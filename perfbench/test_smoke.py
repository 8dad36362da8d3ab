"""Smoke test: every workload at a tiny scale, plain and traced.

    python -m pytest perfbench/test_smoke.py -q

Run from the repository root (~6 minutes on 4 cores).  It is not part
of ``tests/``: each case starts its own Spark driver process.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
SCALE = "0.01"


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", SCALE],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    assert out.returncode == 0, out.stdout[-2000:]
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_plain_run_emits_every_end_to_end_metric(workload):
    label, res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert label["figures"]["op_fail_ratio"] == 0
    for m in SPEC["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert label["box"]["nproc"] >= 1 and label["box"]["pyspark"] and label["box"]["java"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_emits_every_per_layer_metric(workload):
    _, res = _run(workload, 1)
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    # the layers each workload exists to exercise report work
    exercised = {
        "spatial": ["join.deep_s", "join.nodes.MapInArrow", "join.python_mb", "geo.busy_s",
                    "ops.tile_pyramid_s", "ops.nodes.Exchange", "skew.salted_agg_s",
                    "skew.plain_agg.read_skew", "sample.cap_per_tile.jobs"],
        "pipelines": ["build.build_region_s", "build.nodes.FlatMapGroupsInPandas", "storage.written_mb",
                      "checkpoint.assigned_s", "dedup.dup_clusters_s", "pipeline.busy_s"],
    }[workload]
    for name in exercised + ["session.start_s", "pages.materialize_s", "trace.pass_s"]:
        assert res["metrics"][name]["value"] > 0, name


MUTATIONS = {
    # salted aggregation drops one salt's partials: totals go wrong
    "spatial": ("skew.py", 'phase1 = df.withColumn("__salt", salt)',
                'phase1 = df.withColumn("__salt", salt).filter(F.col("__salt") != 0)'),
    # the driver union-find puts every paired doc into one cluster;
    # keepers still equal clusters, so only the twin catches it
    "pipelines": ("dedup.py", "[(x, roots[find(x)]) for x in parent], schema",
                  "[(x, min(parent)) for x in parent], schema"),
}


@pytest.mark.parametrize("workload", sorted(MUTATIONS))
def test_wrong_result_fails_the_run(tmp_path, workload):
    """A result check that fails makes the run exit non-zero with
    ``correct: false`` (the engine tree is patched in a copy)."""
    tree = tmp_path / "tree"
    shutil.copytree(os.path.join(ROOT, "hexspark"), tree / "hexspark")
    shutil.copytree(os.path.join(ROOT, "fixtures"), tree / "fixtures")
    shutil.copy(os.path.join(ROOT, "bench.py"), tree / "bench.py")
    name, old, new = MUTATIONS[workload]
    src_py = tree / "hexspark" / name
    src = src_py.read_text()
    assert old in src
    src_py.write_text(src.replace(old, new, 1))
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "0", "--scale", SCALE],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert out.returncode == 1
    assert not res["correct"] and res["failed"] >= 1
