"""The one Arrow partial -> merge engine: value-domain regressions that
only an end-to-end Arrow path gets right, group-key type fidelity of the
Arrow grouped UDFs, and a structural guard that keeps the build, merge and
probe paths on that one engine."""

import ast
import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from sketchlib.agg import (bloom_contains_col, bloom_spec, build_sketch,
                           hll_spec, rollup_states, sketch_grouped,
                           sketch_grouped_rollup)
from sketchlib.sketch import HLL

_BIG = 2**53 + 1  # odd keys past 2^53 have no exact float64 neighbour


def _big_keys(n):
    return [_BIG + 2 * i for i in range(n)]


def _with_nulls(keys):
    """The keys with a null after every 10th, so that every partition and
    Arrow batch of any split holds a null next to large keys."""
    out = []
    for i, k in enumerate(keys):
        out.append(k)
        if i % 10 == 9:
            out.append(None)
    return out


class TestLargeNullableBigintKeys:
    """A pandas batch promotes a nullable bigint column to float64, which
    rounds keys above 2^53 — so a build or probe that went through pandas
    hashed a different key than the one inserted whenever its batch held a
    null.  Every path now reads the Arrow int64 values exactly."""

    def test_bloom_contains_col_hits_every_member(self, spark):
        keys = _big_keys(50)
        df = spark.createDataFrame([(k,) for k in _with_nulls(keys)],
                                   "k long")
        res = build_sketch(df, "k", bloom_spec(len(keys), 0.01))
        assert res.n_rows == len(keys)
        # collected, not filtered: a pushed-down `k IS NOT NULL` would
        # strip the nulls from the probe batches
        rows = df.withColumn("hit", bloom_contains_col(
            spark, res.state_bytes, F.col("k"))).collect()
        assert sorted(r["k"] for r in rows if r["hit"]) == keys

    def test_sharded_contains_hits_every_member(self, spark, tmp_path):
        from sketchlib.checkpoint import checkpointed_build, sharded_contains

        keys = _big_keys(200)
        build = spark.createDataFrame([(k,) for k in _with_nulls(keys)],
                                      "k long")
        probes = spark.createDataFrame([(k,) for k in keys], "k long")
        ckpt = str(tmp_path / "bank")
        checkpointed_build(build, "k", bloom_spec(len(keys), 0.01),
                           route_cols=["k"], num_shards=4, ckpt_dir=ckpt,
                           shard_sized=True)
        out = sharded_contains(probes, "k", ckpt)
        assert out.where("member").count() == len(keys)

    @pytest.mark.parametrize("strategy", ["shuffle", "local_combine"])
    def test_sketch_grouped_hll_counts_every_key(self, spark, strategy):
        keys = _big_keys(200)
        p = 12
        df = spark.createDataFrame([(1, k) for k in _with_nulls(keys)],
                                   "g int, k long")
        (row,) = sketch_grouped(df, ["g"], "k", hll_spec(p),
                                strategy=strategy).collect()
        est = HLL.cardinality(HLL.deserialize(bytes(row["state"])))
        assert row["n"] == len(keys)
        assert abs(est - len(keys)) <= 3 * 1.04 / (2**p) ** 0.5 * len(keys)


class TestGroupKeyTypes:
    """Arrow grouped UDFs refuse a result whose column type differs from
    the declared schema, and the partial/merge rows carry the group columns
    through as Arrow: every group type must come back as itself, and a null
    group key must stay a group (SQL GROUP BY semantics)."""

    KEYS = ["gi", "gl", "gs", "gd", "gt"]
    SCHEMA = ("gi int, gl bigint, gs string, gd date, gt timestamp, "
              "f int, v long")

    @pytest.fixture(scope="class")
    def frame(self, spark):
        day = dt.date(2024, 3, 1)
        rows = []
        for i in range(600):
            g = i % 3
            rows.append((g, 10**12 + g, f"g{g}", day + dt.timedelta(days=g),
                         dt.datetime(2024, 3, 1, g, 30), i % 7, i))
        rows += [(None, None, None, None, None, i % 7, 1000 + i)
                 for i in range(40)]
        return spark.createDataFrame(rows, self.SCHEMA).repartition(4)

    def _check(self, frame, out, extra=()):
        want = {f.name: f.dataType for f in frame.schema.fields}
        got = {f.name: f.dataType for f in out.schema.fields}
        for c in self.KEYS:
            assert got[c] == want[c], c
        exact = {tuple(r[c] for c in self.KEYS): r["n"] for r in
                 frame.groupBy(*self.KEYS).count()
                 .withColumnRenamed("count", "n").collect()}
        rows = out.collect()
        assert {tuple(r[c] for c in self.KEYS): r["n"] for r in rows} \
            == exact
        assert (None,) * len(self.KEYS) in exact
        for r in rows:
            assert HLL.cardinality(HLL.deserialize(bytes(r["state"]))) > 0
            for name, value in extra:
                assert r[name] == value

    @pytest.mark.parametrize("strategy", ["shuffle", "local_combine"])
    def test_sketch_grouped(self, frame, strategy):
        self._check(frame, sketch_grouped(frame, self.KEYS, "v", hll_spec(8),
                                          strategy=strategy))

    def test_rollup_states(self, frame):
        fine = sketch_grouped(frame, [*self.KEYS, "f"], "v", hll_spec(8),
                              strategy="local_combine")
        self._check(frame, rollup_states(fine, self.KEYS, hll_spec(8)))

    @pytest.mark.parametrize("fan_out", [1, 3])
    def test_sketch_grouped_rollup(self, frame, fan_out):
        out = sketch_grouped_rollup(frame, ["f"], self.KEYS, "v",
                                    hll_spec(8), fan_out=fan_out)
        self._check(frame, out, extra=[("fine_groups", 7)])


def test_mixed_kind_group_refused():
    """The spec-free merge picks its kernel from the blobs' kind tags, so a
    group holding two kinds must be refused, not merged."""
    import numpy as np

    from sketchlib.agg import _reduce_blobs
    from sketchlib.sketch import BLOOM

    bloom = BLOOM.serialize(BLOOM.update(BLOOM.create(100, 0.01),
                                         np.arange(10, dtype=np.int64)))
    hll = HLL.serialize(HLL.update(HLL.create(8),
                                   np.arange(10, dtype=np.int64)))
    ops, st = _reduce_blobs([hll, hll])
    assert ops is HLL and HLL.cardinality(st) > 0
    with pytest.raises(ValueError, match="different kinds"):
        _reduce_blobs([bloom, hll])


_ENGINE_FILES = ("agg.py", "checkpoint.py")
_PANDAS_ENGINES = {"mapInPandas", "applyInPandas", "pandas_udf"}


def _engine_tree(name):
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "sketchlib", name)
    with open(path) as f:
        return ast.parse(f.read(), path)


@pytest.mark.parametrize("name", _ENGINE_FILES)
def test_engine_stays_on_one_arrow_path(name):
    """Guard for the one-engine design: the build, merge and probe modules
    use no pandas UDF form, and ``_arrow_values`` stays the only value
    normaliser (a second one is how build and probe drifted into different
    hash domains before)."""
    tree = _engine_tree(name)
    used = {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
    used |= {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    assert not used & _PANDAS_ENGINES, sorted(used & _PANDAS_ENGINES)
    normalisers = {n.name for n in ast.walk(tree)
                   if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                   and n.name.endswith("_values")}
    assert normalisers <= {"_arrow_values"}, sorted(normalisers)
