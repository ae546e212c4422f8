"""The query registry and the timing harness every benchmark shares.

Every driver-contract query registers here through ``defq``, with its
DuckDB oracle. A query registered with ``pending=True`` is *staged*:
the parity test checks it against its oracle like any other, but it
stays out of ``queries()`` and ``oracle_sql()``, because a never-green
entry sorts to the head of the driver's 50-slot check window and
evicts an aged row. Promoting it means deleting ``pending=True``.

``warm_up`` and ``run`` are the one timing method: bench.py,
scaling.py and tools/timequery.py all warm the session the same way
and time a query as build + execute through the noop sink.

Query functions never write session conf (the parity test runs them
4-way concurrently in one session). ``prepare`` pins
``session.QUERY_CONF`` on a session handed in from outside, once:
``run`` and the driver contract (``__spark_entry__``) call it, and a
``get_spark`` session already carries it.
"""

from __future__ import annotations

import importlib
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .session import QUERY_CONF

QueryFn = Callable[[SparkSession, str], DataFrame]

# The query modules, in the order the driver contract lists them.
_MODULES = ("queries", "queries_data", "queries_osm", "queries_update")

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str | Callable[[], str]] = {}
_STAGED: set[str] = set()


def defq(name: str, oracle: str | Callable[[], str] | None = None,
         pending: bool = False):
    """Register the decorated ``fn(spark, sf_dir) -> DataFrame`` as
    query ``name``. ``oracle`` is its DuckDB SQL, or a zero-argument
    callable returning it when the SQL needs a fixture built first."""
    if name in _QUERIES:
        raise ValueError(f"query {name!r} is already registered")

    def wrap(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        if pending:
            _STAGED.add(name)
        return fn

    return wrap


def _load() -> None:
    for mod in _MODULES:
        importlib.import_module(f"{__package__}.{mod}")


def queries(include_staged: bool = False) -> dict[str, QueryFn]:
    """name -> query function, module by module in _MODULES order and
    in registration order within a module (registration order alone
    would depend on which query module a caller imported first)."""
    _load()
    rank = {f"{__package__}.{mod}": i for i, mod in enumerate(_MODULES)}
    ordered = sorted(
        _QUERIES.items(), key=lambda kv: rank.get(kv[1].__module__, len(rank))
    )
    return {n: fn for n, fn in ordered if include_staged or n not in _STAGED}


def oracle_sql(include_staged: bool = False) -> dict[str, str]:
    """name -> DuckDB oracle SQL for every query that has one."""
    return {
        n: sql() if callable(sql) else sql
        for n in queries(include_staged)
        if (sql := _ORACLES.get(n)) is not None
    }


def staged() -> frozenset[str]:
    """Names registered with ``pending=True``."""
    _load()
    return frozenset(_STAGED)


def prepare(spark: SparkSession) -> SparkSession:
    """Set each ``QUERY_CONF`` key the session does not already hold;
    returns the session. A no-op on a ``get_spark`` session."""
    for key, value in QUERY_CONF.items():
        if spark.conf.get(key) != value:
            spark.conf.set(key, value)
    return spark


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm_workers(batches):
    import hashlib  # noqa: F401
    import numpy  # noqa: F401  (seam decoders import these lazily)

    yield from batches


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Absorb one-time session costs before anything is timed.

    q_projection and osm_stats cover session and codegen start-up and
    build the OSM fixture. Neither starts a Python worker, shuffles or
    broadcasts, so the first timed query to do each used to pay for it:
    ~4.8 s of Python-worker spin-up (fork + pandas/pyarrow/numpy
    imports) and ~2-3 s of first shuffle/aggregate/broadcast codegen
    (OPTIMIZATION_r12.md "bench contract"). Those paths are warmed on
    synthetic range data: no fixture table is touched and nothing is
    cached, so every timed query still computes from its parquet
    inputs."""
    from pyspark.sql import functions as F

    for name in ("q_projection", "osm_stats"):
        run(spark, name, sf_dir)
    slots = spark.sparkContext.defaultParallelism
    _noop(spark.range(slots * 4).repartition(slots).mapInPandas(
        _warm_workers, "id long"
    ))
    rng = spark.range(100_000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )
    agg = rng.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("c"))
    _noop(agg.join(F.broadcast(agg.select("k", "s")), "k"))


def run(spark: SparkSession, name: str, sf_dir: str) -> float:
    """Wall seconds to build query ``name`` (live or staged) and execute
    it through the noop sink. Construction is timed too: some operators
    run planning jobs while building the DataFrame, and leaving that out
    would reward moving work into the untimed phase."""
    fn = queries(include_staged=True)[name]
    prepare(spark)
    t0 = time.monotonic()
    _noop(fn(spark, sf_dir))
    return time.monotonic() - t0
