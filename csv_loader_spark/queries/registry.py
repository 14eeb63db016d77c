"""Registry mapping query names to (Spark callable, DuckDB oracle SQL).

Every operator the engine claims is registered here with:
- a Spark implementation ``fn(spark, sf_dir) -> DataFrame``
- an ANSI/DuckDB oracle SQL string computing the same result on the same
  parquet tables, with IDENTICAL output column names (the driver sorts columns
  by name before value-hashing, so names are part of the contract), or
  ``None`` for genuinely non-SQL-expressible operators (approximate sketches,
  LSH candidate generation with library-specific hashing, streaming state) —
  those get a weaker rows-only check.

Determinism rules applied throughout the library:
- Every float that is the product of an aggregation is ``round()``-ed the same
  way on both sides (sum→2dp, avg/ratio/similarity→4dp) because parallel
  aggregation order makes the low bits of a double sum engine-dependent.
- Every LIMIT / row_number is ordered with a unique tie-break key.
- Timestamps are emitted as formatted strings (or extracted ints), never raw,
  so session-timezone rendering can't skew the comparison.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a query implementation with its oracle SQL.

    Raises at import, not at first run, when ``fn`` cannot be called as
    ``fn(spark, sf_dir)``: a decorator left on a helper would otherwise
    only fail once the bench or the driver contract calls it."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        try:
            inspect.signature(fn).bind(None, "")
        except TypeError as e:
            raise TypeError(
                f"query {name}: {fn.__qualname__} must take (spark, sf_dir): {e}"
            ) from None
        _REGISTRY[name] = QuerySpec(name, fn, oracle, tuple(tags), fn.__doc__ or "")
        return fn

    return deco


def get(name: str) -> QuerySpec:
    return _REGISTRY[name]


def all_queries() -> dict[str, QueryFn]:
    return {n: s.fn for n, s in sorted(_REGISTRY.items())}


def all_oracles() -> dict[str, str]:
    return {n: s.oracle for n, s in sorted(_REGISTRY.items()) if s.oracle is not None}


def all_specs() -> dict[str, QuerySpec]:
    return dict(sorted(_REGISTRY.items()))
