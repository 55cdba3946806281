"""Tiny-size passes of every workload, untraced and traced.

    python3 -m pytest perfbench/tests -q

Each run is a real Spark session on ``local[<cores> - 1]`` (about 20 s), so
the module runs six of them.  They check the output contract, that every
correctness check passes, that each layer a workload exercises shows
nonzero work, and that a run leaves nothing behind in the checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

#: per-layer metrics that must be nonzero on each workload.
#: ``sketch.protocol.deserialize.calls_per_request`` is not among them: the
#: probe memo keeps each state per worker, and every rep rebuilds the same
#: states, so once each worker has probed the request needs no deserialize
#: and the metric reads 0, its ideal.
EXERCISED = {
    "build": [
        "hashing.cpu_s", "hashing.to_byte_matrix.cpu_s",
        "hashing.murmur3_32.cpu_s", "hashing.murmur3_32.lane_rows",
        "hashing.calls", "hashing.rows_per_call",
        "hashing.lanes_per_input_row",
        *[f"sketch.{k}.update.cpu_s"
          for k in ("bloom", "hll", "cms", "kll", "tdigest")],
        "sketch.bloom.contains.cpu_s", "sketch.protocol.serialize.cpu_s",
        "sketch.protocol.deserialize.cpu_s", "sketch.protocol.bytes_out",
        "sketch.protocol.bytes_in",
        "agg.build_sketches.wall_s", "agg.build_sketches.tasks",
        "agg.build_sketches.task_cpu_s", "agg.build_sketches.result_bytes",
        "agg.build_sketches.partials",
        "agg.bloom_contains_col.wall_s", "agg.bloom_contains_col.tasks",
    ],
    "grouped": [
        "hashing.calls", "hashing.rows_per_call", "sketch.hll.update.cpu_s",
        "sketch.hll.merge.calls", "sketch.protocol.serialize.cpu_s",
        "sketch.protocol.bytes_out", "agg.sketch_grouped.wall_s",
        "agg.sketch_grouped.tasks", "agg.sketch_grouped.shuffle_write_bytes",
        "agg.sketch_grouped.shuffle_read_bytes",
        "agg.sketch_grouped.merge_rounds", "agg.sketch_grouped.partials",
    ],
    "bank": [
        "hashing.calls", "sketch.bloom.update.cpu_s",
        "sketch.bloom.contains.cpu_s", "sketch.protocol.serialize.cpu_s",
        "checkpoint.checkpointed_build.wall_s",
        "checkpoint.parquet_bytes_written", "checkpoint.manifest_writes",
        "checkpoint.sharded_contains.wall_s",
        "checkpoint.sharded_contains.shuffle_bytes",
    ],
}
SESSION = ["session.get_spark.wall_s", "session.warmup.wall_s",
           "session.input_cache.wall_s", "trace.cpu_s"]


def _run(workload: str, trace: int, cwd: str = ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7",
                             "--seconds", "1", "--trace", str(trace),
                             "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert not os.path.exists(os.path.join(ROOT, ".perfbench")), \
        "run left its work directory behind"
    return result


def test_benchmark_json_lists_the_workloads():
    # grouped is run by name (report.py, these tests) but not listed
    names = [w["name"] for w in SPEC["workloads"]]
    assert names == ["build", "bank"]


@pytest.mark.parametrize("workload", list(EXERCISED))
def test_untraced_emits_every_end_to_end_metric(workload):
    result = _result(_run(workload, 0))
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, m in result["metrics"].items():
        assert m["value"] > 0, name


@pytest.mark.parametrize("workload", list(EXERCISED))
def test_traced_emits_every_layer_with_work(workload):
    result = _result(_run(workload, 1))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name in EXERCISED[workload] + SESSION:
        assert result["metrics"][name]["value"] > 0, name


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("build", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
