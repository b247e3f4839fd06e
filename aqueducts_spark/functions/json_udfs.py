"""SQL-callable function pack.

* ``unnest_json_array(str) -> array<string>`` — exact port of the
  reference UDF (aqueducts/core/src/custom_udfs.rs:14-58): parse a JSON
  array and return each element's compact-JSON text (strings keep their
  quotes, objects serialize compactly); null in -> null out; non-array
  input raises.
* DataFusion JSON function shims (the reference registers
  ``datafusion-functions-json`` wholesale, custom_udfs.rs:60-70):
  ``json_get_str/int/float/bool``, ``json_as_text``, ``json_contains``,
  ``json_length``. These make reference stage queries run unmodified.

Path semantics (matching datafusion-functions-json's variadic form):

* ``f(json, 'a', 'b', 0)`` — each extra argument is ONE object key or
  array index, exactly as DataFusion takes them;
* ``f(json, 'a.b')`` — the single-argument form additionally splits on
  dots as a convenience (documented divergence from DataFusion, which
  treats a single key verbatim: a top-level key containing a literal
  dot is not reachable through these shims — use Spark's native
  ``get_json_object`` with a bracket path for that case);
* ``json_length(json)`` — no path: the whole document's length;
* any NULL argument (json or key) yields NULL.

Implementation notes (scale): all are Arrow-batched pandas UDFs, not
row-at-a-time Python UDFs. They are still the Python slow path — for
hot paths prefer Spark natives (``get_json_object``, ``from_json``),
which these shims deliberately do not replace.
"""

from __future__ import annotations

import json
import sys

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .._shipping import ship_module_by_value
from ..session import once_per_session

# the UDF bodies reference module-level helpers (_walk & co) — ship
# them by value so executors never need this package importable
ship_module_by_value(sys.modules[__name__])

_COMPACT = {"separators": (",", ":"), "ensure_ascii": False}

_ABSENT = object()  # distinguishes "key missing" from a stored JSON null


class JsonUdfError(ValueError):
    pass


def _unnest_json_array_batch(col: pd.Series) -> pd.Series:
    out = []
    for txt in col:
        if txt is None:
            out.append(None)
            continue
        value = json.loads(txt)
        if not isinstance(value, list):
            raise JsonUdfError(
                f"unnest_json_array: expected JSON array, got {json.dumps(value, **_COMPACT)}"
            )
        out.append([json.dumps(elem, **_COMPACT) for elem in value])
    return pd.Series(out, dtype=object)


def _parts_of(keys: tuple) -> list | None:
    """Normalize path arguments to key parts; None when any key is NULL
    (null-in/null-out). One argument splits on dots (back-compat
    convenience); several arguments are taken verbatim (DataFusion's
    variadic form)."""
    if any(k is None for k in keys):
        return None
    if len(keys) == 1:
        return str(keys[0]).split(".")
    return [str(k) for k in keys]


def _walk(txt, parts):
    """Walk object keys / array indices; _ABSENT when the path is
    missing, the parsed value (possibly None for JSON null) otherwise."""
    if txt is None:
        return _ABSENT
    try:
        value = json.loads(txt)
    except (ValueError, TypeError):
        return _ABSENT
    for part in parts:
        if isinstance(value, dict):
            if part not in value:
                return _ABSENT
            value = value[part]
        elif isinstance(value, list):
            try:
                idx = int(part)
            except ValueError:
                return _ABSENT
            # negative indices are NOT valid JSON paths: Python tail
            # indexing would resolve 'tags.-1' where the DataFusion
            # semantics this pack shims treat it as absent
            if idx < 0 or idx >= len(value):
                return _ABSENT
            value = value[idx]
        else:
            return _ABSENT
    return value


def _lookup(txt, *keys):
    """Path lookup; None for NULL inputs, absent paths, or JSON null."""
    parts = _parts_of(keys) if keys else []
    if txt is None or parts is None:
        return None
    v = _walk(txt, parts)
    return None if v is _ABSENT else v


def _series_map(f):
    """Wrap a scalar function as a pandas batch function over one JSON
    column plus ANY number of key columns (DataFusion's JSON functions
    are variadic over keys)."""

    def inner(*cols: pd.Series) -> pd.Series:
        if not cols:
            raise JsonUdfError("expected at least the JSON argument")
        return pd.Series(
            [f(*row) for row in zip(*cols)], dtype=object
        )

    return inner


@once_per_session
def register_udfs(spark: SparkSession) -> None:
    """Register the function pack on a session, once per JVM session
    (``once_per_session``): a later call on the same session does
    nothing, so a pack function that user or stage SQL redefines or
    drops afterwards stays that way on that session."""
    spark.udf.register(
        "unnest_json_array",
        pandas_udf(_unnest_json_array_batch, T.ArrayType(T.StringType())),
    )

    def get_str(j, *keys):
        # STRING values only (DataFusion json_get_str semantics) —
        # non-strings are NULL; serializing them made this an exact
        # duplicate of json_as_text and changed WHERE-clause row sets
        v = _lookup(j, *keys)
        return v if isinstance(v, str) else None

    def get_int(j, *keys):
        v = _lookup(j, *keys)
        if isinstance(v, bool):
            return None
        if isinstance(v, float) and v.is_integer():
            v = int(v)
        if isinstance(v, int):
            # JSON ints are unbounded; outside int64 the Arrow LongType
            # conversion raises in the worker, failing the whole task
            # over one pathological row — a type miss yields NULL
            return v if -(2**63) <= v < 2**63 else None
        return None

    def get_float(j, *keys):
        v = _lookup(j, *keys)
        if isinstance(v, bool):
            return None
        return float(v) if isinstance(v, (int, float)) else None

    def get_bool(j, *keys):
        v = _lookup(j, *keys)
        return v if isinstance(v, bool) else None

    def as_text(j, *keys):
        v = _lookup(j, *keys)
        if v is None:
            return None
        return v if isinstance(v, str) else json.dumps(v, **_COMPACT)

    def contains(j, *keys):
        parts = _parts_of(keys) if keys else []
        if j is None or parts is None:
            return None  # null-in/null-out on BOTH arguments
        return _walk(j, parts) is not _ABSENT

    def length(j, *keys):
        parts = _parts_of(keys) if keys else []
        if j is None or parts is None:
            return None
        v = _walk(j, parts)
        if isinstance(v, (list, dict)):
            return len(v)
        return None

    spark.udf.register(
        "json_get_str", pandas_udf(_series_map(get_str), T.StringType())
    )
    spark.udf.register(
        "json_get_int", pandas_udf(_series_map(get_int), T.LongType())
    )
    spark.udf.register(
        "json_get_float", pandas_udf(_series_map(get_float), T.DoubleType())
    )
    spark.udf.register(
        "json_get_bool", pandas_udf(_series_map(get_bool), T.BooleanType())
    )
    spark.udf.register(
        "json_as_text", pandas_udf(_series_map(as_text), T.StringType())
    )
    spark.udf.register(
        "json_contains", pandas_udf(_series_map(contains), T.BooleanType())
    )
    spark.udf.register(
        "json_length", pandas_udf(_series_map(length), T.LongType())
    )
