"""Sketch benchmark: one workload, one seed, one timed run.

    python3 perfbench/run.py --workload build --seed 1 --seconds 25 --trace 0

Runs from the root of a source checkout; the library under test is the
checkout's ``sketchlib``.  One closed-loop client (this process) drives
``local[<cores> - 1]``.  Set-up (session start, worker warm-up, seeded input
generation and caching, exact answers, one warm-up rep) is timed as
``setup_s``; then reps run until ``--seconds`` have passed, each
operation's answer checked against the exact ones.  The last stdout line
is the JSON result: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (see perfbench/README.md).

Everything the run writes lives under ``.perfbench/`` in the checkout and
is removed before it exits.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s", "rows_per_s": "rows/s", "probe_rows_per_s": "keys/s",
    "req_p50_s": "s", "req_p90_s": "s", "cpu_s_per_mrow": "s/Mrow",
    "peak_rss_mb": "MB", "state_bytes": "bytes",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["build", "grouped", "bank"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input sizes; tiny is for the benchmark's tests")
    return ap.parse_args(argv)


def _spark_env(workdir: str, traced: bool) -> None:
    """Keep every file Spark, the JVM and the workers write inside
    ``workdir``; make the checkout importable by the python workers; in the
    traced run add the tracing daemon and the event log."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    if traced:
        events = os.path.join(workdir, "events")
        spans = os.path.join(workdir, "spans")
        os.makedirs(events)
        os.makedirs(spans)
        os.environ["PERFBENCH_TRACE_DIR"] = spans
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf spark.python.daemon.module=perfbench.trace_daemon",
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{events}",
            "--conf spark.eventLog.compress=false",
            "pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every
    descendant process (daemon, workers) to exit."""
    from pyspark import SparkContext

    from perfbench import proctree

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    me = os.getpid()
    deadline = time.monotonic() + 30
    while True:
        rest = [p for p in proctree.descendants(me) if p != me]
        if not rest:
            return
        if time.monotonic() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def run(args, workdir: str) -> dict:
    from sketchlib.envprobe import env_probe
    from perfbench import layers, proctree, trace
    from perfbench.workloads import SIZES, WORKLOADS

    t_probe = time.perf_counter()
    context = {"start": env_probe(reps=1)}
    probe_s = time.perf_counter() - t_probe

    traced = bool(args.trace)
    _spark_env(workdir, traced)
    tracer = (trace.Tracer(os.environ["PERFBENCH_TRACE_DIR"], in_worker=False)
              if traced else trace.NullTracer())
    if traced:
        trace.install(tracer)

    from sketchlib.session import get_spark

    t = time.perf_counter()
    # one core stays free for the driver and the JVM: with a task slot per
    # core they compete with the workers, and paired runs on a 4-core host
    # read lower throughput and more CPU per row than with one slot less
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    spark = get_spark("perfbench", cores=cores)
    session_s = {"get_spark": time.perf_counter() - t}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer.bind(spark)
        t = time.perf_counter()
        spark.range(0, cores * 64, 1, cores) \
            .mapInArrow(lambda batches: batches, "id long").count()
        session_s["warmup"] = time.perf_counter() - t

        sizes = SIZES[args.size]
        w = WORKLOADS[args.workload](spark, args.seed, sizes, tracer,
                                     os.path.join(workdir, "work"))
        t = time.perf_counter()
        w.setup()
        session_s["input_cache"] = time.perf_counter() - t

        records = []
        with proctree.TreeSampler() as sampler:
            t_warm = time.perf_counter()
            records += _rep(w, 0, tracer, sampler)
            warm_s = time.perf_counter() - t_warm
            sampler.active.set()
            t_first = time.perf_counter()
            rep = 1
            while True:
                records += _rep(w, rep, tracer, sampler)
                rep += 1
                if time.perf_counter() - t_first >= args.seconds:
                    break
            sampler.active.clear()
        # the set-up a run pays before its first timed op
        setup_s = t_first - _T0 - probe_s
    finally:
        try:
            tracer.flush()
        finally:
            _stop_spark(spark)
    context["end"] = env_probe(reps=1)

    timed = [r for r in records if r["rep"] >= 1]
    failed = sum(not r["ok"] for r in timed)
    thr = [r for r in timed if r["kind"].startswith(w.throughput_kind)]
    reqs = [r for r in timed if r["kind"].startswith(w.request_kind)]
    req = [r["wall"] for r in reqs]
    # per rep, so that the JVM's JIT, still compiling through the first
    # timed rep (whose CPU reads 1.3-1.6x a later rep's), stays out of the
    # median
    rep_cpu: dict[int, list[float]] = {}    # rep -> [CPU s, rows]
    for r in timed:
        acc = rep_cpu.setdefault(r["rep"], [0.0, 0])
        acc[0] += r["cpu"]
        acc[1] += r["rows"]
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": statistics.median(r["rows"] / r["wall"] for r in thr),
        "probe_rows_per_s": statistics.median(r["rows"] / r["wall"]
                                              for r in reqs),
        "req_p50_s": _percentile(req, 0.5),
        "req_p90_s": _percentile(req, 0.9),
        "cpu_s_per_mrow": statistics.median(
            cpu / rows * 1e6 for cpu, rows in rep_cpu.values()),
        "peak_rss_mb": sampler.peak_rss / 2 ** 20,
        "state_bytes": statistics.median(r["state_bytes"] for r in thr),
    }
    print("perfbench: context " + json.dumps(context, sort_keys=True))
    print("perfbench: samples " + json.dumps({
        "reps": rep - 1, "throughput_ops": len(thr), "requests": len(req),
        "session_s": session_s, "warm_rep_s": warm_s,
        "peak_jvm_rss_mb": sampler.peak_jvm_rss / 2 ** 20}))
    print("perfbench: end_to_end " + json.dumps(e2e, sort_keys=True))

    if traced:
        extra = {f"session.{k}.wall_s": v for k, v in session_s.items()}
        extra.update({k: statistics.fmean(v) for k, v in w.extra.items()})
        extra["trace.cpu_s"] = sum(r["cpu"] for r in timed) / (rep - 1)
        values = layers.compute(
            trace.load_spans(os.environ["PERFBENCH_TRACE_DIR"]),
            layers.read_event_log(os.path.join(workdir, "events")),
            input_rows=w.rows_per_rep(), extra=extra)
        units = layers.metric_units()
    else:
        values, units = e2e, END_TO_END_UNITS
    return {
        "correct": failed == 0,
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def _rep(w, rep: int, tracer, sampler) -> list[dict]:
    out = []
    for kind, fn in w.rep_ops():
        with tracer.operation(f"rep{rep}.{kind}"):
            cpu0 = sampler.cpu_s()
            t0 = time.perf_counter()
            rows, check = fn()
            wall = time.perf_counter() - t0
            cpu = sampler.cpu_s() - cpu0
        ok, state_bytes = check()
        out.append({"rep": rep, "kind": kind, "wall": wall, "cpu": cpu,
                    "rows": rows, "ok": ok, "state_bytes": state_bytes})
    w.after_rep()
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import sketchlib  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the library under test: {exc}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(workdir)
    try:
        result = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:   # another run still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
