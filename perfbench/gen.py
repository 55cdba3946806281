"""Seeded input generator for the benchmark.

Everything is a pure Catalyst expression of ``spark.range`` ids and the
seed, so the same seed gives byte-identical tables at any partitioning and
the library under test receives only the generated DataFrames.

The page table has ``sketchlib.synth``'s shape: urls of the form
``https://host<h>.example.com/doc/<doc_id>`` and 40% of rows on host 0.
``doc_id`` runs through a seeded affine bijection of ``[0, 10^8)``, so
every url is distinct (Bloom ``n_inserted`` and exact distinct counts are
known by construction) and non-member probe keys -- ids past the member
range pushed through the same bijection -- never collide with a member.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

_ID_SPACE = 10 ** 8          # doc_id range; every workload stays far below it
_HOUR_S = 3600


def _bijection(seed: int) -> tuple[int, int]:
    """(a, b) of ``doc_id = (a * id + b) mod 10^8``; ``a`` is odd and not a
    multiple of 5, hence a unit mod 10^8, so the map is a permutation."""
    a = (seed * 2_654_435_761 + 12_345) % _ID_SPACE
    a += (a % 2 == 0)
    if a % 5 == 0:
        a += 2
    b = (seed * 40_503 + 977) % _ID_SPACE
    return a, b


def _mix(col: Column, seed: int, salt: int) -> Column:
    """Non-negative 62-bit pseudo-random long derived from ``col``."""
    return F.shiftright(F.xxhash64(col, F.lit(seed), F.lit(salt)), 2) \
        .bitwiseAND(F.lit((1 << 62) - 1))


def _url(doc_id: Column, host_id: Column) -> Column:
    return F.concat(F.lit("https://host"), host_id.cast("string"),
                    F.lit(".example.com/doc/"), doc_id.cast("string"))


def _host(doc_id: Column, seed: int, n_hosts: int) -> Column:
    h = _mix(doc_id, seed, 1)
    return F.when(h % 5 < 2, F.lit(0)) \
        .otherwise(1 + F.shiftright(h, 3) % (n_hosts - 1)).cast("long")


def _doc_ids(spark: SparkSession, start: int, n: int, seed: int,
             partitions: int) -> DataFrame:
    a, b = _bijection(seed)
    return spark.range(start, start + n, 1, partitions).select(
        ((F.col("id") * a + b) % _ID_SPACE).alias("doc_id"))


def pages(spark: SparkSession, n: int, seed: int, *, partitions: int,
          n_hosts: int = 200) -> DataFrame:
    """(url string, host_id long, warc_ts timestamp, n_chars long, hour long).

    ``warc_ts`` spreads over one day; ``hour`` is its hour since the epoch
    (the grouped workload's fine key).  ``n_chars`` is log-uniform over
    [64, 64k) -- a heavy-tailed page length for the quantile sketches."""
    if n > _ID_SPACE // 2:
        raise ValueError(f"at most {_ID_SPACE // 2} pages per seed")
    d = _doc_ids(spark, 0, n, seed, partitions)
    u = _mix(F.col("doc_id"), seed, 3).cast("double") / float(1 << 62)
    return (d.withColumn("host_id", _host(F.col("doc_id"), seed, n_hosts))
            .select(
                _url(F.col("doc_id"), F.col("host_id")).alias("url"),
                "host_id",
                F.timestamp_seconds(
                    F.lit(1_704_067_200)
                    + _mix(F.col("doc_id"), seed, 2) % 86_400).alias("warc_ts"),
                F.floor(F.lit(64.0) * F.pow(F.lit(1024.0), u))
                .cast("long").alias("n_chars"))
            .withColumn("hour", F.floor(F.unix_seconds("warc_ts") / _HOUR_S)
                        .cast("long")))


def member_keys(spark: SparkSession, n_members: int, take: int, seed: int, *,
                partitions: int, n_hosts: int = 200) -> DataFrame:
    """``take`` urls of the first ``n_members`` pages (every one a member),
    spread evenly over the member range."""
    step = max(1, n_members // take)
    a, b = _bijection(seed)
    d = spark.range(0, take, 1, partitions).select(
        (((F.col("id") * step) % n_members * a + b) % _ID_SPACE)
        .alias("doc_id"))
    return d.select(_url(F.col("doc_id"), _host(F.col("doc_id"), seed,
                                                 n_hosts)).alias("key"))


def fresh_keys(spark: SparkSession, n_members: int, take: int, seed: int, *,
               partitions: int, n_hosts: int = 200) -> DataFrame:
    """``take`` urls guaranteed absent from the first ``n_members`` pages."""
    d = _doc_ids(spark, n_members, take, seed, partitions)
    return d.select(_url(F.col("doc_id"), _host(F.col("doc_id"), seed,
                                                 n_hosts)).alias("key"))


def probe_keys(spark: SparkSession, n_members: int, take: int, seed: int, *,
               partitions: int, n_hosts: int = 200) -> DataFrame:
    """(key string, is_member boolean): half members, half fresh."""
    half = take // 2
    mem = member_keys(spark, n_members, half, seed, partitions=partitions,
                      n_hosts=n_hosts).withColumn("is_member", F.lit(True))
    new = fresh_keys(spark, n_members, take - half, seed,
                     partitions=partitions, n_hosts=n_hosts) \
        .withColumn("is_member", F.lit(False))
    return mem.unionByName(new).coalesce(partitions)
