"""Traced-run report: per-layer metrics, tracing overhead, seed-split checks.

    python3 perfbench/report.py [--seconds 8] [--seed 1]

For every workload it runs ``perfbench/run.py`` twice, untraced and traced,
one after the other (never concurrently: they would share the cores).  It
prints every per-layer metric by name with its unit, the tracing overhead
(traced over untraced ``rows_per_s``), and checks that the traced split
reproduces what is known of the seed code:

* hashing is the largest CPU layer on ``build``;
* ``hashing.rows_per_call`` is under 20 on ``grouped`` and at least 10k on
  ``build``;
* sketch merge plus serialize is under 5% of the traced CPU on ``build``.

Exits 1 if a run fails or a check does not hold.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("build", "grouped", "bank")
KINDS = ("bloom", "hll", "cms", "kll", "tdigest")


def run_once(workload: str, seed: int, seconds: float,
             trace: int) -> tuple[dict, dict]:
    """(result JSON, end-to-end figures) of one run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        raise RuntimeError(f"{workload} trace={trace} failed "
                           f"(exit {proc.returncode}):\n{proc.stderr[-3000:]}")
    e2e = next(json.loads(line.split(" ", 2)[2]) for line in lines
               if line.startswith("perfbench: end_to_end "))
    return json.loads(lines[-1]), e2e


def checks(layer: dict[str, dict[str, float]]) -> list[tuple[str, bool]]:
    """The seed-split sanity checks over {workload: {metric: value}}."""
    b, g = layer["build"], layer["grouped"]
    others = [b[f"sketch.{k}.update.cpu_s"] for k in KINDS] + [
        b["sketch.bloom.contains.cpu_s"], b["sketch.protocol.serialize.cpu_s"],
        b["sketch.protocol.deserialize.cpu_s"]] + [
        b[f"sketch.{k}.merge.cpu_s"] for k in KINDS]
    merge_ser = sum(b[f"sketch.{k}.merge.cpu_s"] for k in KINDS) \
        + b["sketch.protocol.serialize.cpu_s"]
    return [
        ("hashing is the largest CPU layer on build",
         b["hashing.cpu_s"] > max(others)),
        ("hashing.rows_per_call < 20 on grouped",
         0 < g["hashing.rows_per_call"] < 20),
        ("hashing.rows_per_call >= 10k on build",
         b["hashing.rows_per_call"] >= 10_000),
        ("merge + serialize < 5% of traced CPU on build",
         merge_ser < 0.05 * b["trace.cpu_s"]),
    ]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    layer: dict[str, dict[str, float]] = {}
    ok = True
    for w in WORKLOADS:
        plain, plain_e2e = run_once(w, args.seed, args.seconds, 0)
        traced, traced_e2e = run_once(w, args.seed, args.seconds, 1)
        ok &= plain["correct"] and traced["correct"]
        layer[w] = {k: v["value"] for k, v in traced["metrics"].items()}
        print(f"== {w}: correct={plain['correct']}/{traced['correct']} "
              f"attempted={plain['attempted']}/{traced['attempted']} "
              f"failed={plain['failed']}/{traced['failed']} "
              "(untraced/traced)")
        print(f"   tracing overhead: rows_per_s traced/untraced = "
              f"{traced_e2e['rows_per_s']:.4g}/{plain_e2e['rows_per_s']:.4g}"
              f" = {traced_e2e['rows_per_s'] / plain_e2e['rows_per_s']:.3f}")
        for name, m in traced["metrics"].items():
            print(f"   {name:52s} {m['value']:>14.6g} {m['unit']}")
    print("== seed-split checks")
    for label, passed in checks(layer):
        ok &= passed
        print(f"   {'PASS' if passed else 'FAIL'}  {label}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
