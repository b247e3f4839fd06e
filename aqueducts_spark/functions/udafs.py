"""Custom aggregate functions (UDAFs) as Pandas GROUPED_AGG UDFs.

The reference registers only scalar UDFs (core/src/custom_udfs.rs:51-65
— no UDAF/UDTF anywhere), so this is the beyond-reference tier of the
SURVEY §2.B "UDF/UDAF/UDTF surface" row: Arrow-batched grouped
aggregates, registered for stage SQL so ``GROUP BY`` queries can call
them by name.

Scale shape: a GROUPED_AGG pandas UDF runs after the normal hash
shuffle on the grouping key — each group's column ships to Python once
as an Arrow batch. There is **no partial aggregation** (the UDF is a
black box to Catalyst), so prefer built-in aggregates when one exists;
these are for genuinely custom math. Values are float64 reductions —
deterministic per-group ordering is NOT guaranteed, so tests assert
with tolerances (same caveat as Spark's native stddev/corr).

UDF objects are built lazily inside :func:`register_udafs`:
``pandas_udf`` parses its DDL return type, which needs an active
SparkSession — a module-level decorator would break plain imports.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..session import once_per_session

__all__ = ["make_udafs", "register_udafs"]

_CACHE: dict = {}


def make_udafs() -> dict:
    """Build (once) and return {name: pandas GROUPED_AGG udf}."""
    if _CACHE:
        return _CACHE

    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG functionType: the typehint-inference path
    # cannot resolve stringified annotations under
    # `from __future__ import annotations`
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geometric_mean(v):
        """exp(mean(ln(x))) over positive values; NULL if none."""
        x = v.dropna().astype("float64")
        x = x[x > 0]
        if x.empty:
            return None
        return float(np.exp(np.log(x).mean()))

    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def harmonic_mean(v):
        """n / sum(1/x) over nonzero values; NULL if none — or when the
        reciprocals cancel (mixed-sign input), where the textbook
        formula degenerates to n/0 and numpy would emit Infinity."""
        x = v.dropna().astype("float64")
        x = x[x != 0]
        if x.empty:
            return None
        s = (1.0 / x).sum()
        if s == 0.0:
            return None
        return float(len(x) / s)

    _CACHE.update(
        {"geometric_mean": geometric_mean, "harmonic_mean": harmonic_mean}
    )
    return _CACHE


@once_per_session
def register_udafs(spark: SparkSession) -> None:
    """Register the grouped-agg UDAFs for stage SQL, once per JVM
    session (``once_per_session``): a later call on the same session
    does nothing, so a pack function that user or stage SQL redefines or
    drops afterwards stays that way on that session."""
    for name, udf in make_udafs().items():
        spark.udf.register(name, udf)
