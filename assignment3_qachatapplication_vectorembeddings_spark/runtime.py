"""Shared runtime bookkeeping: the materialized-intermediate registry,
and the one way to turn driver-built rows into a DataFrame.

Operators that persist() or eagerly localCheckpoint() an intermediate
(bm25's per-doc table, the dedup shingle/bucket/candidate checkpoints)
register it here; sequential runners (bench.py, tools/check_corpus.py,
tools/bench_ratio.py) call :func:`release_caches` after materializing
each query so CacheManager entries are unpersisted and checkpoint-block
references are dropped for the ContextCleaner. Without this, a 100+
query session accumulates pinned blocks until later queries measure
memory pressure — or broadcasts fail outright (observed at sf1).

Contract: a registered frame's blocks may be released as soon as the
CALLER's result is materialized; consumers must not re-collect a
returned DataFrame after calling release_caches().
"""

from __future__ import annotations

__all__ = ["local_frame", "register_materialized", "release_caches"]

_MATERIALIZED: list = []


def register_materialized(df) -> None:
    """Register a persisted/checkpointed DataFrame for later release."""
    _MATERIALIZED.append(df)


def release_caches() -> int:
    """Unpersist and drop every registered intermediate.

    Returns the number of frames released. Idempotent and safe any
    time: unpersist on a never-materialized lazy persist just drops the
    CacheManager registration; for localCheckpoint frames the unpersist
    is a no-op and the dropped reference is what lets ContextCleaner
    reclaim the blocks (callers typically follow with gc.collect()).
    """
    n = 0
    while _MATERIALIZED:
        df = _MATERIALIZED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def local_frame(spark, rows, schema):
    """Driver-built ``rows`` (tuples in ``schema`` field order) as a
    DataFrame, shipped through pandas and Arrow: one columnar batch per
    slice, no row pickling and no Python worker — a handful of rows
    lands as ONE partition, so a one-row insert writes one file.
    ``schema`` is a StructType or a DDL string."""
    import pandas as pd
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    pdf = pd.DataFrame.from_records(list(rows), columns=schema.fieldNames())
    return spark.createDataFrame(pdf, schema)
