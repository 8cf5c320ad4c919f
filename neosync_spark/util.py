"""Deterministic vectorized hashing shared by synth + transformers.

A splitmix64-style mixer over numpy uint64 — every "random" choice in
the engine is a pure function of (seed, key material), so task retries,
speculative execution and re-partitioning can never change an output
byte (the determinism contract of the reference's PCG-seeded rng,
/root/reference/worker/pkg/rng/rng.go:24-31, made value-keyed instead
of stream-keyed).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_FNV = np.uint64(0x100000001B3)


def mix64(*parts: np.ndarray | int) -> np.ndarray:
    """Vectorized splitmix64 over the combined parts (uint64 wraparound)."""
    with np.errstate(over="ignore"):
        acc = np.uint64(0)
        for p in parts:
            arr = np.asarray(p, dtype=np.uint64)
            acc = (acc + arr) * _FNV + _GOLDEN
        z = acc + _GOLDEN
        z = (z ^ (z >> np.uint64(30))) * _M1
        z = (z ^ (z >> np.uint64(27))) * _M2
        return z ^ (z >> np.uint64(31))


def u01(h: np.ndarray) -> np.ndarray:
    """uint64 hash → float64 uniform in [0, 1)."""
    return (np.asarray(h, dtype=np.uint64) >> np.uint64(11)).astype(np.float64) / float(
        1 << 53
    )


def hash_series(s: pd.Series) -> np.ndarray:
    """Deterministic (cross-process) uint64 hash of a pandas series."""
    return pd.util.hash_pandas_object(s.fillna("\x00<null>"), index=False).to_numpy(
        dtype=np.uint64
    )


def round_half_up(col, scale: int = 4):
    """Explicit HALF_UP rounding as a Spark Column expression.

    Engine-portable: ``floor(x * 10^s + 0.5) / 10^s`` evaluates
    identically in Spark and DuckDB, unlike round(), whose tie behavior
    differs (Spark HALF_UP vs DuckDB half-even) — and small-integer
    ratios (e.g. 3/32 = 0.09375) hit exact ties often.
    """
    from pyspark.sql import functions as F

    m = float(10**scale)
    return F.floor(col * m + F.lit(0.5)) / m


def str_seed(s: str) -> int:
    """Deterministic uint64 seed from a python string (label hashing)."""
    h = np.uint64(0xCBF29CE484222325)
    with np.errstate(over="ignore"):
        for ch in s.encode("utf-8"):
            h = (h ^ np.uint64(ch)) * _FNV
    return int(h)


def _sql_literal(v, dt) -> str:
    """Render one value as Spark SQL literal text of exactly ``dt``.
    Strings/binary go through base64 (``unbase64``) — no escaping
    rules to get wrong, arbitrary bytes/unicode survive verbatim."""
    import base64 as _b64
    import datetime as _dt

    from pyspark.sql import types as T

    ds = dt.simpleString()
    if v is None:
        return f"CAST(NULL AS {ds})"
    if isinstance(dt, T.StringType):
        b = _b64.b64encode(str(v).encode("utf-8")).decode("ascii")
        return f"CAST(unbase64('{b}') AS STRING)"
    if isinstance(dt, T.BinaryType):
        b = _b64.b64encode(bytes(v)).decode("ascii")
        return f"unbase64('{b}')"
    if isinstance(dt, T.BooleanType):
        return "true" if v else "false"
    if isinstance(
        dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        return f"CAST({int(v)} AS {ds})"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        f = float(v)
        if f != f:
            return f"CAST('NaN' AS {ds})"
        if f in (float("inf"), float("-inf")):
            return f"CAST('{'-' if f < 0 else ''}Infinity' AS {ds})"
        return f"CAST({f!r} AS {ds})"
    if isinstance(dt, T.DecimalType):
        return f"CAST('{v}' AS {ds})"
    if isinstance(dt, T.DateType):
        return f"DATE'{v.isoformat()}'"
    if isinstance(dt, T.TimestampType) and isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            raise TypeError("tz-aware timestamp literal")
        return f"TIMESTAMP'{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    raise TypeError(f"no SQL literal for {type(v).__name__} as {ds}")


def literal_frame(spark, rows, schema, max_literal: int = 4096):
    """Small local relation as a pure-JVM literal plan, built with ONE
    py4j round-trip.

    ``createDataFrame``-from-list plans a Python-serialized local RDD
    whose scan runs through a Python worker at execution time — the
    FIRST such scan in a session forks the pyspark daemon and imports
    the worker runtime inside whatever task consumes the frame
    (seconds of wall-clock blocked on a 16-row leaf; measured in the
    stats_sync write stage). Building the literal tree with Column
    operations instead (lit/cast/alias per cell) costs a py4j
    round-trip per call — ~1.3 ms each, 2.3 s for a 100×5 frame. So
    the rows are rendered as ONE SQL text,
    ``SELECT inline(array(named_struct(...), ...))``: a single JVM
    call, parsed and constant-folded Catalyst-side, whole-stage
    codegen, no Python worker anywhere.

    ``schema`` is a DDL string or StructType of atomic fields. Rows
    past ``max_literal``, or values without a SQL literal form
    (nested types, tz-aware timestamps), fall back to
    ``createDataFrame``.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    fields = schema.fields
    rows = list(rows)
    if not rows:
        # limit(0), not range(0): OptimizeLimitZero folds this to an
        # empty LocalRelation, which PropagateEmptyRelation then
        # collapses out of any join/union above it — a Range(0,0) leaf
        # is not provably empty to Catalyst and would leave real
        # (nested-loop, for crossJoins) join operators in the plan
        return (
            spark.range(1)
            .select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in fields
                ]
            )
            .limit(0)
        )
    if len(rows) > max_literal:
        return spark.createDataFrame(rows, schema)
    for f in fields:
        if not f.name.replace("_", "").isalnum():
            return spark.createDataFrame(rows, schema)
    try:
        structs = [
            "named_struct("
            + ", ".join(
                f"'{f.name}', {_sql_literal(v, f.dataType)}"
                for v, f in zip(r, fields)
            )
            + ")"
            for r in rows
        ]
    except (TypeError, ValueError):
        return spark.createDataFrame(rows, schema)
    return spark.sql(f"SELECT inline(array({', '.join(structs)}))")
