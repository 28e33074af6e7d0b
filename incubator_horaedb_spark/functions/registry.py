"""UDF / UDAF registration framework.

Port of the reference's function framework
(src/df_operator/src/functions.rs:209-320 ScalarFunction/AggregateFunction
with TypeSignature; registry.rs:1-163 register_all_udfs).  On Spark the
registry is a dict + ``spark.udf.register``; scalar UDFs should be
pandas_udfs (Arrow-batched) — row-at-a-time Python UDFs are the slow path
and are flagged.

The reference registers exactly two public UDFs (udfs/mod.rs:25-31):
``time_bucket`` and ``thetasketch_distinct``; both are *expression
builders* here (functions/time_bucket.py, functions/sketches.py) because
they compile to built-ins — registered as SQL functions for dialect parity.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import SparkSession


@dataclass
class FunctionDef:
    name: str
    fn: Callable
    returns: str
    kind: str  # scalar_pandas | scalar_python | grouped_agg
    arg_types: list[str] = field(default_factory=list)  # TypeSignature analogue


class FunctionRegistry:
    def __init__(self):
        self._fns: dict[str, FunctionDef] = {}

    def register_pandas_scalar(self, name: str, returns: str, arg_types: list[str] | None = None):
        """Preferred: Arrow-batched scalar UDF (10-100x row-at-a-time)."""

        def deco(fn):
            from pyspark.sql.functions import pandas_udf

            # wrap to drop annotations: PySpark's hint inference chokes on
            # string annotations (PEP 563 `from __future__ import annotations`)
            def _wrapped(*args):
                return fn(*args)

            udf = pandas_udf(_wrapped, returnType=returns)
            self._fns[name.lower()] = FunctionDef(
                name=name.lower(), fn=udf, returns=returns,
                kind="scalar_pandas", arg_types=arg_types or [],
            )
            return udf

        return deco

    def register_python_scalar(self, name: str, returns: str, arg_types: list[str] | None = None):
        """Row-at-a-time Python UDF — the slow path; warned on registration."""

        def deco(fn):
            from pyspark.sql.functions import udf

            warnings.warn(
                f"UDF {name!r} is row-at-a-time Python — prefer register_pandas_scalar",
                stacklevel=3,
            )
            wrapped = udf(fn, returnType=returns)
            self._fns[name.lower()] = FunctionDef(
                name=name.lower(), fn=wrapped, returns=returns,
                kind="scalar_python", arg_types=arg_types or [],
            )
            return wrapped

        return deco

    def register_grouped_agg(self, name: str, returns: str):
        """UDAF (udaf.rs accumulator analogue): a pandas UDF whose type
        hints (``pd.Series -> scalar``) make it a grouped aggregate."""

        def deco(fn):
            import pandas as pd
            from pyspark.sql.functions import pandas_udf

            # the hints are set as objects: fn's own may be strings that
            # do not resolve (PEP 563), as in register_pandas_scalar
            def _agg(*cols):
                return fn(*cols)

            _agg.__annotations__ = {"cols": pd.Series, "return": float}
            udf = pandas_udf(_agg, returnType=returns)
            self._fns[name.lower()] = FunctionDef(
                name=name.lower(), fn=udf, returns=returns, kind="grouped_agg"
            )
            return udf

        return deco

    def get(self, name: str):
        """Function lookup is case-insensitive (normalize_func_name,
        planner.rs:1082-1117)."""
        return self._fns[name.lower()].fn

    def names(self) -> list[str]:
        return sorted(self._fns)

    def bind_to_session(self, spark: SparkSession) -> None:
        """Expose registered functions to spark.sql."""
        for f in self._fns.values():
            if f.kind in ("scalar_pandas", "scalar_python"):
                spark.udf.register(f.name, f.fn)
