"""Cache-lifecycle and scoped-conf helpers shared by the operators.

A query function that ``cache()``/``persist()``-es an intermediate must
not leak the cached blocks past its own return: a long-lived session
composing many operators would otherwise accumulate orphaned executor
storage (bench's per-query ``clearCache()`` hides the leak there, a
shared session does not). For operators whose *result* is
dimension-bounded — top-k rows, per-language summaries, decile tables,
never corpus-sized — the fix is free: materialize the bounded result,
release the caches, and hand back a driver-local DataFrame with the
identical schema. The collect is the same one the caller was about to
do anyway.

Operators whose output scales with the corpus (pair enumerations d3/x4)
keep their caches attached to the returned lazy plan instead: there the
cache serves multiple *references inside one action*, and releasing it
before the caller's action would re-run the lineage per reference.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

#: Serializes every scoped session-conf change (see :func:`scoped_conf`).
#: RLock, not Lock: a helper that composes two scoped runners re-enters
#: on the same thread — with a plain Lock that would DEADLOCK; with
#: RLock the nested entry saves the already-changed value and the LIFO
#: exits restore correctly (inner restores the outer's value, outer
#: restores the caller's original).
_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on the session for the duration of the block, then
    restore each key's previous value — on exit and on error.

    Session conf is global to the session and read at plan time, so an
    action planned on another thread while a scope is held would
    inherit its values, and two overlapping scopes would restore each
    other's stale values. One process-wide lock serializes every scope:
    a second thread's scope waits until the first one has restored.
    Code running inside a held scope must not wait on another thread
    that itself enters a scope (that thread would block on the lock).
    """
    with _CONF_LOCK:
        prev = {k: spark.conf.get(k) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)


def materialize_release(
    spark: SparkSession, result: DataFrame, *cached: DataFrame
) -> DataFrame:
    """Collect a dimension-bounded ``result``, unpersist every
    DataFrame in ``cached``, and return the rows as a driver-local
    DataFrame (a ``LocalRelation``) carrying ``result``'s exact schema.

    The rows stay in the JVM: collecting them to Python and calling
    ``spark.createDataFrame`` would build a pickled Python RDD, and
    every later action on it would start a job that needs Python
    workers."""
    rows = result._jdf.collectAsList()
    for df in cached:
        df.unpersist(blocking=False)
    return DataFrame(
        spark._jsparkSession.createDataFrame(rows, result._jdf.schema()), spark
    )


def spark_round_decimal(x: float, places: int):
    """The exact Decimal Spark's ``round(double, n)`` lands on:
    ``BigDecimal.valueOf`` (shortest-decimal ``Double.toString``) then
    ``setScale(n, HALF_UP)``. Python's ``repr`` is the same
    shortest-roundtrip decimal, so quantizing it HALF_UP matches
    bit-for-bit. (Builtin ``round`` is banker's rounding on the binary
    value — NOT equivalent.) Shared by the x10 driver-side greedy and
    the workload oracle literals so the parity trick has one home.
    """
    import decimal

    return decimal.Decimal(repr(x)).quantize(
        decimal.Decimal(1).scaleb(-places), rounding=decimal.ROUND_HALF_UP
    )
