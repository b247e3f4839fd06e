"""Python UDTFs (Spark 4 user-defined table functions) — the UDTF leg
of the extension surface (SURVEY §2.B UDF/UDAF/UDTF row; the reference
registers scalar UDFs only, `aqueducts/core/src/custom_udfs.rs:51-65`,
so this is the beyond-parity extension point).

UDTFs run row-at-a-time in Python — use them for genuinely tabular
per-row expansions that built-in generators (`explode`, `inline`,
`posexplode`, `variant_explode`) cannot express, never for hot-path
scalar work (the plan linter flags row-Python in hot paths).
"""

from __future__ import annotations

import re
import sys

from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf

from .._shipping import ship_module_by_value
from ..session import once_per_session

# UDTF classes are cloudpickled; ship this module by value so executors
# never need the package importable (same contract as json_udfs.py)
ship_module_by_value(sys.modules[__name__])

__all__ = ["register_udtfs"]


class _SplitSentences:
    """`split_sentences(text)` -> one row per sentence with its index
    and whitespace token count. SQL: LATERAL split_sentences(col)."""

    def eval(self, text: str):  # noqa: D102 - UDTF contract method
        if text is None:
            return
        for i, s in enumerate(re.split(r"(?<=[.!?])\s+", text.strip())):
            if s:
                yield (s, i, len(s.split()))


class _ParseKeyValues:
    """`parse_key_values(text, pair_sep, kv_sep)` -> one row per
    key=value pair; malformed fragments are skipped (no key/value)."""

    def eval(self, text: str, pair_sep: str = ",", kv_sep: str = "="):
        if text is None:
            return
        if not pair_sep or not kv_sep:
            # malformed SEPARATORS follow the same documented
            # skip-malformed contract — ''.split('') would otherwise
            # raise in the worker and kill the whole job
            return
        for frag in text.split(pair_sep):
            if kv_sep in frag:
                k, _, v = frag.partition(kv_sep)
                if k.strip():
                    yield (k.strip(), v.strip())


_CACHE: dict = {}


@once_per_session
def register_udtfs(spark: SparkSession) -> None:
    """Register the UDTF pack for SQL use, once per JVM session
    (``once_per_session``): a later call on the same session does
    nothing, so a pack function that user or stage SQL redefines or
    drops afterwards stays that way on that session.

    The ``@udtf`` wrapping happens HERE, lazily, not at import time:
    the decorator freezes the Arrow-optimization decision from the
    active session when it runs, so module-level decoration (no session
    yet) silently pinned these UDTFs to the non-Arrow path regardless
    of ``spark.sql.execution.pythonUDTF.arrow.enabled`` — and made the
    behavior depend on import order."""
    if not _CACHE:
        _CACHE["split_sentences"] = udtf(
            _SplitSentences, returnType="sentence: string, idx: int, n_tokens: int"
        )
        _CACHE["parse_key_values"] = udtf(
            _ParseKeyValues, returnType="key: string, value: string"
        )
    spark.udtf.register("split_sentences", _CACHE["split_sentences"])
    spark.udtf.register("parse_key_values", _CACHE["parse_key_values"])
