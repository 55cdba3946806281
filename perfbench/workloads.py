"""The workloads: set-up, the operations one timed rep runs, and the
correctness check of every operation against exact answers computed once
in set-up with Spark SQL.

An operation function returns ``(rows, check)``: the input rows (or probe
keys) it processed, and a function the runner calls after the timer stops
that returns ``(ok, state_bytes)`` -- whether the answer passed its check,
and the serialized bytes of the sketch state it produced or shipped.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, SparkSession, functions as F

from sketchlib import agg, checkpoint
from sketchlib.params import fpp_bound
from sketchlib.sketch import BLOOM, CMS, HLL, KLL

from . import gen

#: KLL(200) practical normalized rank-error bound (sketchlib.sketch.kll)
_KLL_RANK_EPS = 0.015


@dataclass(frozen=True)
class Sizes:
    pages: int            # build: pages per build
    request_keys: int     # build: keys per probe request
    requests: int         # build: probe requests per rep
    grouped_rows: int     # grouped: rows per grouped build
    grouped_hosts: int    # grouped: hosts (groups = hosts x 24 hours)
    bank_rows: int        # bank: keys per checkpointed build
    bank_probe_keys: int  # bank: keys per routed probe
    bank_shards: int


SIZES = {
    "full": Sizes(pages=300_000, request_keys=20_000, requests=2,
                  grouped_rows=2_400,
                  grouped_hosts=12, bank_rows=200_000, bank_probe_keys=8_000,
                  bank_shards=16),
    "tiny": Sizes(pages=20_000, request_keys=2_000, requests=2,
                  grouped_rows=600,
                  grouped_hosts=8, bank_rows=5_000, bank_probe_keys=1_000,
                  bank_shards=4),
}


def _hits(df: DataFrame, hit_col) -> tuple[int, int]:
    """(member hits, non-member hits) of a (key, is_member) frame."""
    row = df.select(F.col("is_member"), hit_col.alias("__hit")).agg(
        F.sum((F.col("__hit") & F.col("is_member")).cast("long")),
        F.sum((F.col("__hit") & ~F.col("is_member")).cast("long"))).first()
    return int(row[0] or 0), int(row[1] or 0)


def _split(df: DataFrame) -> tuple[int, int]:
    """Exact (members, non-members) of a (key, is_member) frame."""
    counts = dict(df.groupBy("is_member").count().collect())
    return int(counts.get(True, 0)), int(counts.get(False, 0))


def _probe_ok(hits: tuple[int, int], split: tuple[int, int],
              fpp: float) -> bool:
    """Zero false negatives and a false-positive rate within 2x the bound."""
    return hits[0] == split[0] and hits[1] <= 2 * fpp * max(1, split[1])


def _fpp(blob: bytes) -> float:
    return BLOOM.stats(BLOOM.deserialize(blob))["fpp_bound"]


class Workload:
    name = ""
    #: op kind whose rows/wall gives rows_per_s; op kind timed as a request
    throughput_kind = ""
    request_kind = ""

    def __init__(self, spark: SparkSession, seed: int, sizes: Sizes,
                 tracer, workdir: str):
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self.tracer = tracer
        self.workdir = workdir
        self.parts = spark.sparkContext.defaultParallelism
        self.extra: dict[str, list[float]] = {}

    def setup(self) -> None:
        """Generate and cache the inputs and compute the exact answers.
        Inputs are only marked cached: the set-up query that first scans
        one in full (an exact answer) fills its cache, so no extra
        counting job runs."""
        raise NotImplementedError

    def rep_ops(self) -> list[tuple[str, object]]:
        raise NotImplementedError

    def rows_per_rep(self) -> int:
        raise NotImplementedError

    def after_rep(self) -> None:
        """Untimed clean-up after each rep."""


class Build(Workload):
    """One ``agg.build_sketches`` call (five sketches in one pass), then
    small probe requests against the Bloom that build produced."""

    name = "build"
    throughput_kind = "build"
    request_kind = "req"

    def setup(self) -> None:
        s = self.sizes
        self.df = gen.pages(self.spark, s.pages, self.seed,
                            partitions=self.parts).cache()
        self.specs = [("url", agg.bloom_spec(s.pages)),
                      ("url", agg.hll_spec(14)),
                      ("host_id", agg.cms_spec(5, 8192)),
                      ("n_chars", agg.kll_spec(200)),
                      ("n_chars", agg.tdigest_spec(200))]
        if checkpoint.prefer_shard_sized(self.specs[0][1]):
            raise ValueError("build Bloom must stay a mergeable monolith")
        # the KLL median passes when its exact rank is within eps of 0.5,
        # i.e. when it lies between these two exact discrete quantiles
        total, distinct, self.median_lo, self.median_hi = self.df.agg(
            F.count("*"), F.countDistinct("url"),
            *[F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY n_chars)")
              for q in (0.5 - _KLL_RANK_EPS, 0.5 + _KLL_RANK_EPS)]).first()
        self.n, self.distinct = int(total), int(distinct)
        self.host_counts = dict(self.df.groupBy("host_id").count().collect())
        # a request is one small batch: one partition of its own keys
        self.request = gen.probe_keys(
            self.spark, s.pages, s.request_keys, self.seed,
            partitions=1).cache()
        self.request_split = _split(self.request)

    def _check(self, res) -> bool:
        bloom, hll, cms, kll = (r.state for r in res[:4])
        if bloom.n_inserted != self.n:
            return False
        sigma = 1.04 / math.sqrt(1 << hll.p)
        if abs(HLL.cardinality(hll) - self.distinct) > 3 * sigma * self.distinct:
            return False
        hosts = list(self.host_counts)
        est = CMS.estimate(cms, np.array(hosts, np.int64))
        true = [self.host_counts[h] for h in hosts]
        if any(e < t for e, t in zip(est, true)):
            return False
        eps = CMS.error_bound(cms)[0]
        if est[hosts.index(0)] - self.host_counts[0] > eps * self.n:
            return False
        median = float(KLL.quantile(kll, 0.5)[0])
        return self.median_lo <= median <= self.median_hi

    def rep_ops(self):
        built = {}

        def build():
            with self.tracer.call_span("agg.build_sketches", self.n):
                res = agg.build_sketches(self.df, self.specs)
            built["bloom"] = res[0].state_bytes
            return self.n, lambda: (self._check(res),
                                    sum(len(r.state_bytes) for r in res))

        def request():
            blob, split = built["bloom"], self.request_split
            with self.tracer.call_span("agg.bloom_contains_col", sum(split)):
                hits = _hits(self.request, agg.bloom_contains_col(
                    self.spark, blob, F.col("key")))
            return sum(split), lambda: (_probe_ok(hits, split, _fpp(blob)),
                                        len(blob))
        return [("build", build)] + [(f"req{i}", request)
                                     for i in range(self.sizes.requests)]

    def rows_per_rep(self) -> int:
        return self.n + self.sizes.requests * sum(self.request_split)


class Grouped(Workload):
    """Per-(host, hour) distinct-url HLL, rolled up to (host, day)."""

    name = "grouped"
    throughput_kind = request_kind = "grouped"
    spec = agg.hll_spec(12)

    def setup(self) -> None:
        s = self.sizes
        self.df = gen.pages(
            self.spark, s.grouped_rows, self.seed, partitions=self.parts,
            n_hosts=s.grouped_hosts).select("host_id", "hour", "url").cache()
        exact = self.df.withColumn("day", F.floor(F.col("hour") / 24)) \
            .groupBy("host_id", "day").agg(F.countDistinct("url")).collect()
        self.exact = {(int(h), int(d)): int(c) for h, d, c in exact}

    def rep_ops(self):
        def grouped():
            n = self.sizes.grouped_rows
            with self.tracer.call_span("agg.sketch_grouped", n):
                hourly = agg.sketch_grouped(self.df, ["host_id", "hour"],
                                            "url", self.spec)
                daily = hourly.withColumn("day", F.floor(F.col("hour") / 24))
                rows = agg.rollup_states(daily, ["host_id", "day"],
                                         self.spec).collect()
            return n, lambda: (self._check(rows),
                               sum(len(r["state"]) for r in rows))
        return [("grouped", grouped)]

    def _check(self, rows) -> bool:
        """Exact group count; every group's HLL within 3 sigma."""
        if len(rows) != len(self.exact):
            return False
        sigma = 1.04 / math.sqrt(1 << self.spec.cfg["p"])
        for r in rows:
            true = self.exact.get((int(r["host_id"]), int(r["day"])))
            est = HLL.cardinality(HLL.deserialize(bytes(r["state"])))
            if true is None or abs(est - true) > 3 * sigma * true:
                return False
        return True

    def rows_per_rep(self) -> int:
        return self.sizes.grouped_rows


class Bank(Workload):
    """Checkpointed shard-sized Bloom bank build, then a routed probe."""

    name = "bank"
    throughput_kind = "build"
    request_kind = "req"

    def setup(self) -> None:
        s = self.sizes
        self.keys = gen.pages(
            self.spark, s.bank_rows, self.seed,
            partitions=self.parts).select(F.col("url").alias("key")).cache()
        self.n = self.keys.count()
        self.probes = gen.probe_keys(
            self.spark, s.bank_rows, s.bank_probe_keys, self.seed,
            partitions=self.parts).cache()
        self.split = _split(self.probes)
        self.spec = agg.bloom_spec(s.bank_rows)
        self.rep_no = 0
        self.ckpt = None

    def rep_ops(self):
        s = self.sizes
        self.rep_no += 1
        self.ckpt = os.path.join(self.workdir, f"bank-{self.rep_no}")

        def build():
            with self.tracer.call_span("checkpoint.checkpointed_build",
                                       s.bank_rows):
                self.bank = checkpoint.checkpointed_build(
                    self.keys, "key", self.spec, route_cols=["key"],
                    num_shards=s.bank_shards, ckpt_dir=self.ckpt,
                    shard_sized=True)
            bank = self.bank
            return s.bank_rows, lambda: (bank.n_rows == self.n,
                                         bank.total_state_bytes)

        def probe():
            n = sum(self.split)
            with self.tracer.call_span("checkpoint.sharded_contains", n):
                hits = _hits(checkpoint.sharded_contains(
                    self.probes, "key", self.ckpt), F.col("member"))
            bank = self.bank
            cfg = bank.spec.cfg
            fpp = fpp_bound(cfg["m_bits"], cfg["k"],
                            bank.metrics()["max_shard_rows"])
            return n, lambda: (_probe_ok(hits, self.split, fpp),
                               bank.total_state_bytes)
        return [("build", build), ("req", probe)]

    def after_rep(self) -> None:
        written = 0
        for root, _dirs, files in os.walk(os.path.join(self.ckpt,
                                                       "partials")):
            written += sum(os.path.getsize(os.path.join(root, f))
                           for f in files if f.endswith(".parquet"))
        manifest = checkpoint.load_manifest(self.ckpt)
        self.extra.setdefault("checkpoint.parquet_bytes_written",
                              []).append(written)
        self.extra.setdefault("checkpoint.manifest_writes", []).append(
            len(manifest.rounds))
        shutil.rmtree(self.ckpt)

    def rows_per_rep(self) -> int:
        return self.sizes.bank_rows + sum(self.split)


WORKLOADS = {w.name: w for w in (Build, Grouped, Bank)}
