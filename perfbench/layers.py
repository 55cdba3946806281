"""Per-layer metrics of a traced run, from the tracer's spans and Spark's
event log.

Every figure is per timed repetition of the workload (warm-up excluded)
unless its name says otherwise: CPU seconds are summed over the driver and
every python worker and divided by the number of timed reps.  ``agg.<call>``
and ``checkpoint.<call>`` figures are means per call; on a workload with
requests (ops of kind ``req``) a call that requests make is described by its
request calls only.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from .trace import CALL_PROP, OP_PROP

KINDS = ("bloom", "hll", "cms", "kll", "tdigest")
AGG_CALLS = ("agg.build_sketches", "agg.bloom_contains_col",
             "agg.sketch_grouped")
CALL_COUNTERS = {
    "wall_s": "s", "tasks": "count", "task_cpu_s": "s",
    "scheduler_delay_s": "s", "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "result_bytes": "bytes",
    "max_over_median_task_s": "ratio", "merge_rounds": "count",
    "partials": "count",
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name the traced run emits, with its unit."""
    units = {
        "hashing.cpu_s": "s",
        "hashing.to_byte_matrix.cpu_s": "s",
        "hashing.murmur3_32.cpu_s": "s",
        "hashing.murmur3_32.lane_rows": "rows",
        "hashing.calls": "count",
        "hashing.rows_per_call": "rows/call",
        "hashing.lanes_per_input_row": "lanes/row",
    }
    for k in KINDS:
        units[f"sketch.{k}.update.cpu_s"] = "s"
        units[f"sketch.{k}.merge.cpu_s"] = "s"
        units[f"sketch.{k}.merge.calls"] = "count"
    units["sketch.bloom.contains.cpu_s"] = "s"
    units.update({
        "sketch.protocol.serialize.cpu_s": "s",
        "sketch.protocol.deserialize.cpu_s": "s",
        "sketch.protocol.bytes_out": "bytes",
        "sketch.protocol.bytes_in": "bytes",
        "sketch.protocol.deserialize.calls_per_request": "calls/req",
    })
    for call in AGG_CALLS:
        for counter, unit in CALL_COUNTERS.items():
            units[f"{call}.{counter}"] = unit
    units.update({
        "checkpoint.checkpointed_build.wall_s": "s",
        "checkpoint.parquet_bytes_written": "bytes",
        "checkpoint.manifest_writes": "count",
        "checkpoint.sharded_contains.wall_s": "s",
        "checkpoint.sharded_contains.shuffle_bytes": "bytes",
        "session.get_spark.wall_s": "s",
        "session.warmup.wall_s": "s",
        "session.input_cache.wall_s": "s",
        "trace.cpu_s": "s",
    })
    return units


# -- Spark event log -----------------------------------------------------------

def read_event_log(events_dir: str) -> list[dict]:
    """Events of every log under ``events_dir``, single-file or rolled
    (``eventlog_v2_<app>/events_<n>_<app>``, read in ``n`` order)."""
    paths = []
    for root, _dirs, files in os.walk(events_dir):
        for name in files:
            if name.startswith((".", "appstatus")):  # status and .crc files
                continue
            parts = name.split("_")
            n = int(parts[1]) if name.startswith("events_") else 0
            paths.append((root, n, name))
    events = []
    for root, _n, name in sorted(paths):
        with open(os.path.join(root, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _task_rows(events: list[dict]) -> list[dict]:
    """One dict per successful task: its op, call, stage and counters."""
    stage_props: dict[int, dict] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            for sid in e.get("Stage IDs", []):
                stage_props[sid] = props
    rows = []
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        if (e.get("Task End Reason") or {}).get("Reason") != "Success":
            continue
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        props = stage_props.get(e["Stage ID"], {})
        duration = info["Finish Time"] - info["Launch Time"]
        fetch = (info["Finish Time"] - info["Getting Result Time"]
                 if info.get("Getting Result Time") else 0)
        run_ms = m.get("Executor Run Time", 0)
        sched = max(0, duration - run_ms
                    - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0) - fetch)
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        rows.append({
            "op": props.get(OP_PROP, ""), "call": props.get(CALL_PROP, ""),
            "stage": e["Stage ID"], "duration_s": duration / 1e3,
            "cpu_s": (m.get("Executor CPU Time", 0)
                      + m.get("Executor Deserialize CPU Time", 0)) / 1e9,
            "sched_s": sched / 1e3,
            "shuffle_read": rd.get("Remote Bytes Read", 0)
            + rd.get("Local Bytes Read", 0),
            "shuffle_write": wr.get("Shuffle Bytes Written", 0),
            "result": m.get("Result Size", 0)
            if e.get("Task Type") == "ResultTask" else 0,
        })
    return rows


# -- aggregation --------------------------------------------------------------

def _rep(op: str) -> int:
    """``rep3.req1`` -> 3; rep 0 is the warm-up."""
    return int(op.split(".", 1)[0][3:]) if op.startswith("rep") else -1


def _kind(op: str) -> str:
    return op.split(".", 1)[1] if "." in op else ""


def compute(spans: list[tuple], events: list[dict], *, input_rows: int,
            extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics.  ``input_rows``: rows fed to the timed ops per
    rep; ``extra``: figures the driver measured directly (set-up walls,
    checkpoint bytes, the process tree's CPU per rep)."""
    timed = [s for s in spans if _rep(s[3]) >= 1]
    reps = len({_rep(s[3]) for s in timed}) or 1
    ops_req = {s[3] for s in timed if _kind(s[3]).startswith("req")}
    by_name: dict[str, list[tuple]] = defaultdict(list)
    for s in timed:
        by_name[s[2]].append(s)

    def cpu(name: str, self_only: bool = False) -> float:
        return sum(s[9 if self_only else 8] for s in by_name[name]) / 1e9 / reps

    out: dict[str, float] = {name: 0.0 for name in metric_units()}
    hashes = by_name["hashing.hash"]
    lanes = sum(s[10] for s in by_name["hashing.murmur3_32"])
    out["hashing.cpu_s"] = cpu("hashing.hash")
    out["hashing.to_byte_matrix.cpu_s"] = cpu("hashing.to_byte_matrix")
    out["hashing.murmur3_32.cpu_s"] = cpu("hashing.murmur3_32")
    out["hashing.murmur3_32.lane_rows"] = lanes / reps
    out["hashing.calls"] = len(hashes) / reps
    out["hashing.rows_per_call"] = (sum(s[10] for s in hashes) / len(hashes)
                                    if hashes else 0.0)
    out["hashing.lanes_per_input_row"] = lanes / reps / max(1, input_rows)
    for k in KINDS:
        out[f"sketch.{k}.update.cpu_s"] = cpu(f"sketch.{k}.update", True)
        out[f"sketch.{k}.merge.cpu_s"] = cpu(f"sketch.{k}.merge", True)
        out[f"sketch.{k}.merge.calls"] = len(by_name[f"sketch.{k}.merge"]) / reps
    out["sketch.bloom.contains.cpu_s"] = cpu("sketch.bloom.contains", True)
    ser, de = by_name["sketch.protocol.serialize"], \
        by_name["sketch.protocol.deserialize"]
    out["sketch.protocol.serialize.cpu_s"] = cpu("sketch.protocol.serialize")
    out["sketch.protocol.deserialize.cpu_s"] = cpu(
        "sketch.protocol.deserialize")
    out["sketch.protocol.bytes_out"] = sum(s[11] for s in ser) / reps
    out["sketch.protocol.bytes_in"] = sum(s[11] for s in de) / reps
    if ops_req:
        out["sketch.protocol.deserialize.calls_per_request"] = \
            sum(1 for s in de if s[3] in ops_req) / len(ops_req)

    units = metric_units()
    tasks = [t for t in _task_rows(events) if _rep(t["op"]) >= 1]
    for call in (*AGG_CALLS, "checkpoint.checkpointed_build",
                 "checkpoint.sharded_contains"):
        for counter, value in _call_counters(call, timed, tasks,
                                             ops_req).items():
            if f"{call}.{counter}" in units:
                out[f"{call}.{counter}"] = value
    out.update(extra)
    return out


def _call_counters(call: str, spans: list[tuple], tasks: list[dict],
                   ops_req: set[str]) -> dict[str, float]:
    """Mean counters per instance of ``call`` (one instance = one op)."""
    ops = sorted({s[3] for s in spans if s[2] == call})
    if ops_req and any(o in ops_req for o in ops):
        ops = [o for o in ops if o in ops_req]
    if not ops:
        return {}
    per: dict[str, list[float]] = defaultdict(list)
    for op in ops:
        mine = [s for s in spans if s[3] == op and s[4] == call]
        own = [t for t in tasks if t["op"] == op and t["call"] == call]
        per["wall_s"].append(sum((s[7] - s[6]) / 1e9 for s in mine
                                 if s[2] == call))
        per["tasks"].append(len(own))
        per["task_cpu_s"].append(sum(t["cpu_s"] for t in own))
        per["scheduler_delay_s"].append(sum(t["sched_s"] for t in own))
        per["shuffle_write_bytes"].append(sum(t["shuffle_write"] for t in own))
        per["shuffle_read_bytes"].append(sum(t["shuffle_read"] for t in own))
        per["result_bytes"].append(sum(t["result"] for t in own))
        skew = 1.0
        by_stage: dict[int, list[float]] = defaultdict(list)
        for t in own:
            by_stage[t["stage"]].append(t["duration_s"])
        for durs in by_stage.values():
            med = statistics.median(durs)
            if len(durs) > 1 and med > 0:
                skew = max(skew, max(durs) / med)
        per["max_over_median_task_s"].append(skew)
        merge_stages = {s[5] for s in mine if s[2].endswith(".merge")}
        per["merge_rounds"].append(len(merge_stages))
        ser_stages = sorted(s[5] for s in mine
                            if s[2] == "sketch.protocol.serialize"
                            and s[5] >= 0)
        per["partials"].append(ser_stages.count(ser_stages[0])
                               if ser_stages else 0)
    out = {k: statistics.fmean(v) for k, v in per.items()}
    out["shuffle_bytes"] = out["shuffle_write_bytes"] + out["shuffle_read_bytes"]
    return out
