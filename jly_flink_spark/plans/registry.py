"""Registry of named queries, each pairing a Spark DataFrame plan with
its DuckDB oracle SQL (the driver's correctness gate — see
__spark_entry__.py docstring).

Contract per entry:
- `spark_fn(spark, sf_dir) -> DataFrame` — the engine-side plan.
- `oracle` — ANSI SQL DuckDB runs over the same parquet views, or
  None for ops that are genuinely not SQL-expressible (the driver
  then records a rows-only check).
- Column names/aliases MUST match between both sides; the driver
  sorts columns by name before value-hashing.
"""

from __future__ import annotations

import functools
import hashlib
import inspect
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from ..io import register_views


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    tags: tuple[str, ...] = ()
    doc: str = ""
    impl_hash: str = ""  # md5(undecorated query fn source + oracle
    # SQL) for `register`, md5(sql + oracle) for `register_sql`,
    # computed once when the query registers. The spec is frozen and
    # the oracle is an argument of the decorator, so the hash always
    # covers the body and the oracle that run (pinned by
    # tests/test_verified_hashes.py). A green CORRECTNESS row
    # certifies THIS hash; rewrites re-enter the unverified-first
    # rotation (see __spark_entry__.queries).
    # LIMITATION: the hash does NOT cover the operators/ helpers the
    # fn calls, so a helper rewrite leaves pins valid — deliberate
    # (hashing helpers would re-queue every query on any edit and
    # blow the driver's slot cap). The safety net for helper changes
    # is the full local oracle sweep, which value-checks every query
    # regardless of pins; run it after touching operators/.


def _impl_hash(fn_source: str, oracle: Optional[str]) -> str:
    h = hashlib.md5()
    h.update(fn_source.encode("utf-8", errors="replace"))
    h.update(b"\x00")
    h.update((oracle or "").encode("utf-8", errors="replace"))
    return h.hexdigest()


def _source_of(fn: Callable) -> str:
    try:
        return inspect.getsource(fn)
    except (OSError, TypeError):  # exec'd / builtin — fall back to name
        return getattr(fn, "__qualname__", repr(fn))


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: Optional[str],
    tags: tuple[str, ...] = (),
    doc: str = "",
):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Oracle comparison requires UTC-naive timestamp parity with
            # DuckDB regardless of how the caller built the session.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(
            name=name, spark_fn=wrapped, oracle=oracle, tags=tags,
            doc=doc or (fn.__doc__ or ""),
            impl_hash=_impl_hash(_source_of(fn), oracle),
        )
        return wrapped

    return deco


def register_sql(
    name: str,
    sql: str,
    tags: tuple[str, ...] = (),
    doc: str = "",
):
    """Register a query whose Spark plan and DuckDB oracle are the SAME
    ANSI SQL text (dialect-shared subset). Catalyst still plans it —
    SQL and DataFrame code produce identical plans."""

    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        register_views(spark, sf_dir)
        return spark.sql(sql)

    spark_fn.__name__ = name
    REGISTRY[name] = QuerySpec(
        name=name,
        spark_fn=spark_fn,
        oracle=sql,
        tags=tags,
        doc=doc,
        impl_hash=_impl_hash(sql, sql),
    )
    return spark_fn


def queries_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark_fn for name, spec in REGISTRY.items()}


def oracle_sql_map() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }
