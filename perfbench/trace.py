"""Span tracer for the traced run: wraps sketchlib's public layer functions
from outside, in the driver and (through ``trace_daemon``) in every python
worker, and keeps the spans in memory until the process writes them out.

A span is ``(id, parent, name, op, call, stage, start_ns, end_ns, cpu_ns,
self_cpu_ns, rows, nbytes)``:

* ``op`` -- the benchmark operation it belongs to (``rep3.build``), carried to
  the workers as the Spark local property ``perfbench.op``;
* ``call`` -- the public library call being materialised
  (``agg.build_sketches``), local property ``perfbench.call``;
* ``stage`` -- the Spark stage id in a worker, -1 in the driver;
* ``cpu_ns`` -- thread CPU time inside the span; ``self_cpu_ns`` subtracts
  the CPU of its child spans (so a sketch update's self time excludes the
  hashing it calls).

Workers append their spans to ``<dir>/spans-<pid>.jsonl`` after every task
(a reused worker can be killed at any time after that); the driver writes
its own file at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time

OP_PROP = "perfbench.op"
CALL_PROP = "perfbench.call"

_perf = time.perf_counter_ns
_cpu = time.thread_time_ns


class Tracer:
    def __init__(self, out_dir: str, *, in_worker: bool):
        self.out_dir = out_dir
        self.in_worker = in_worker
        self.spans: list[tuple] = []
        self.op = ""          # driver-side context; workers read local props
        self.call = ""
        self._stack: list[list] = []   # [id, op, call, stage, child_cpu_ns]
        self._next_id = 0
        self._sc = None

    # -- context ------------------------------------------------------------

    def _root_context(self) -> tuple[str, str, int]:
        if not self.in_worker:
            return self.op, self.call, -1
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is None:
            return "", "", -1
        return (tc.getLocalProperty(OP_PROP) or "",
                tc.getLocalProperty(CALL_PROP) or "", tc.stageId())

    def bind(self, spark) -> None:
        """Driver side: local properties are set on this SparkContext."""
        self._sc = spark.sparkContext

    def _set_prop(self, key: str, value: str) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(key, value or None)

    @contextlib.contextmanager
    def operation(self, op: str):
        """Driver: every span and Spark job inside belongs to ``op``."""
        self.op = op
        self._set_prop(OP_PROP, op)
        try:
            yield
        finally:
            self.op = ""
            self._set_prop(OP_PROP, "")

    @contextlib.contextmanager
    def call_span(self, name: str, rows: int = 0):
        """Driver: time one public library call (or the action that
        materialises a lazy one) and tag its Spark jobs with ``name``."""
        self.call = name
        self._set_prop(CALL_PROP, name)
        sid = self._enter()
        t0, c0 = _perf(), _cpu()
        try:
            yield
        finally:
            self._exit(sid, name, t0, c0, rows, 0)
            self.call = ""
            self._set_prop(CALL_PROP, "")

    # -- spans --------------------------------------------------------------

    def _enter(self) -> int:
        sid = self._next_id
        self._next_id += 1
        if self._stack:
            parent = self._stack[-1]
            op, call, stage = parent[1], parent[2], parent[3]
        else:
            op, call, stage = self._root_context()
        self._stack.append([sid, op, call, stage, 0])
        return sid

    def _exit(self, sid: int, name: str, t0: int, c0: int, rows: int,
              nbytes: int) -> None:
        t1, c1 = _perf(), _cpu()
        frame = self._stack.pop()
        cpu = c1 - c0
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            parent[4] += cpu
        self.spans.append((sid, parent[0] if parent else -1, name, frame[1],
                           frame[2], frame[3], t0, t1, cpu, cpu - frame[4],
                           rows, nbytes))

    def wrap(self, name: str, fn, measure=None):
        """``fn`` recorded as span ``name``; ``measure(args, result)``
        returns the span's (rows, nbytes)."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = tracer._enter()
            t0, c0 = _perf(), _cpu()
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                rows, nbytes = measure(args, out) if (
                    measure is not None and out is not None) else (0, 0)
                tracer._exit(sid, name, t0, c0, rows, nbytes)

        return traced

    def flush(self) -> None:
        if not self.spans:
            return
        path = os.path.join(self.out_dir, f"spans-{os.getpid()}.jsonl")
        with open(path, "a") as f:
            for s in self.spans:
                f.write(json.dumps(s, separators=(",", ":")))
                f.write("\n")
        self.spans.clear()


class NullTracer:
    """The untraced run: same interface, records nothing, sets no option."""

    def bind(self, spark) -> None:
        pass

    @contextlib.contextmanager
    def operation(self, op: str):
        yield

    @contextlib.contextmanager
    def call_span(self, name: str, rows: int = 0):
        yield

    def flush(self) -> None:
        pass


# -- installing the wrappers -------------------------------------------------

def _rows_first(args, out):
    return int(out[0].shape[0]), 0


def _rows_out(args, out):
    return int(out.shape[0]), 0


def _bytes_out(args, out):
    return 0, len(out)


def _bytes_in(args, out):
    return 0, len(args[-1])


#: every sketch kind whose wire bytes count towards ``sketch.protocol``
_KINDS = ("bloom", "hll", "cms", "kll", "tdigest", "mg", "kmv")


def install(tracer: Tracer) -> None:
    """Wrap sketchlib's hashing entry points and the sketch kernels' public
    methods.  Module-level hash functions are rebound in every sketchlib
    module that imported them by name, so each call site sees the wrapper."""
    from sketchlib import hashing, sketch

    fns = {
        "hash_pair": ("hashing.hash", _rows_first),
        "hash64": ("hashing.hash", _rows_out),
        "to_byte_matrix": ("hashing.to_byte_matrix", _rows_first),
        "murmur3_32": ("hashing.murmur3_32", _rows_out),
    }
    originals = {id(getattr(hashing, attr)): tracer.wrap(name,
                                                         getattr(hashing, attr),
                                                         measure)
                 for attr, (name, measure) in fns.items()}
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("sketchlib") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            wrapped = originals.get(id(val))
            if wrapped is not None and attr in fns:
                setattr(mod, attr, wrapped)

    for kind in _KINDS:
        cls = type(sketch.KINDS[kind])
        for meth in ("update", "merge", "contains"):
            if hasattr(cls, meth):
                setattr(cls, meth, tracer.wrap(f"sketch.{kind}.{meth}",
                                               getattr(cls, meth)))
        cls.serialize = tracer.wrap("sketch.protocol.serialize",
                                    cls.serialize, _bytes_out)
        cls.deserialize = tracer.wrap("sketch.protocol.deserialize",
                                      cls.deserialize, _bytes_in)


def load_spans(out_dir: str) -> list[tuple]:
    spans = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("spans-") and name.endswith(".jsonl"):
            pid = name[len("spans-"):-len(".jsonl")]
            with open(os.path.join(out_dir, name)) as f:
                for line in f:
                    s = json.loads(line)
                    # ids are per process: qualify them with the pid
                    s[0], s[1] = f"{pid}:{s[0]}", f"{pid}:{s[1]}"
                    spans.append(tuple(s))
    return spans
