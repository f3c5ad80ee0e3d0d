"""Query/operator registry — the engine's coverage contract.

Every operator family from SURVEY.md §2 registers here as a named query:
a PySpark DataFrame builder plus (where SQL-expressible) an equivalent ANSI-SQL
oracle string that DuckDB runs over the same parquet tables.  This mirrors the
reference's test strategy of differential testing against a trusted engine
(Auron's ``dev/auron-it/local-run-tpcds.sh:31-37`` diffs Auron vs vanilla
Spark results; our oracle is DuckDB).

``__spark_entry__.py``, ``tests/`` and ``bench.py`` all read this registry, so
a query registered once is simultaneously smoke-tested, oracle-checked and
benchmarkable.  The registry is stateless about correctness: every run of
the oracle battery re-checks every oracle-bearing query, and the record of
past results lives in git history, not here.  Iteration order is
registration order.

Oracle-exactness conventions (see tests/conftest.py):
- money/decimal aggregation goes through DECIMAL so sums are exact and
  order-insensitive in both engines, then casts to DOUBLE at the end;
- every computed column is aliased identically in the Spark builder and the
  SQL oracle (the driver hashes columns by sorted name);
- queries with LIMIT order by a full deterministic key (PK tiebreak).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
):
    """Decorator registering a query builder under ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name,
            build=fn,
            oracle=oracle,
            tags=tuple(tags),
            bench=bench,
            doc=(fn.__doc__ or "").strip(),
        )
        return fn

    return deco


_LOADED = False


def load_all() -> dict[str, QuerySpec]:
    """Import every module that registers queries; idempotent.  Returns a
    copy of the registry in registration order (module import order, then
    declaration order within each module)."""
    global _LOADED
    if not _LOADED:
        # Imports are for registration side effects.
        from auron_spark import functions as _functions  # noqa: F401
        from auron_spark import operators as _operators  # noqa: F401
        from auron_spark import pipeline as _pipeline  # noqa: F401
        from auron_spark import plans as _plans  # noqa: F401
        from auron_spark import sources as _sources  # noqa: F401
        from auron_spark import streaming as _streaming  # noqa: F401

        _LOADED = True
    return dict(REGISTRY)


def queries() -> dict[str, Builder]:
    """Every registered builder by name, in registration order."""
    return {name: spec.build for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None
    }


def bench_queries() -> dict[str, QuerySpec]:
    return {name: spec for name, spec in load_all().items() if spec.bench}
