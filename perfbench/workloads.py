"""The workloads: which operations they run and how each is checked.

An operation is two calls into the package's public entry points, timed
separately by the worker:

* ``build(ctx)`` — the builder (``QuerySpec.build``, or the DataFrame a
  writer consumes); returns the object the action consumes;
* ``act(ctx, built)`` — the action: ``collect()`` of the query (its rows feed
  the output digest, so verification needs no second execution), or the
  ``sources.io`` writer itself (returns the written path).

``check(result)`` runs after the timed window and returns the output's
``(rows, digest)``; it must equal the entry in ``expected.json``.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path
from typing import Any


@dataclass
class Ctx:
    spark: Any
    specs: dict  # registry.load_all(), resolved once outside the timed window
    inputs: dict[str, str]
    out: Path  # per-run scratch directory for written outputs
    pass_no: int = 0


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[Ctx], Any]
    act: Callable[[Ctx, Any], Any]
    check: Callable[[Any], tuple[int, str]]
    # Reading a written dataset back costs about as much as writing it, so
    # writers are checked on the cold pass and the last pass only.
    check_every_pass: bool = True


# --------------------------------------------------------------------------
# Order-insensitive output digests.


def _norm(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, bool):
        return ["b", v]
    if isinstance(v, int):
        return ["i", v]
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return ["f", "nan"]
        # 9 significant digits absorb summation-order ulps across layouts
        # and engines; +0.0 and -0.0 are one value.
        return ["f", format(v, ".9g") if v else "0"]
    if isinstance(v, datetime.datetime):
        return ["t", v.strftime("%Y-%m-%d %H:%M:%S.%f")]
    if isinstance(v, datetime.date):
        return ["t", v.isoformat() + " 00:00:00.000000"]
    if isinstance(v, dict):
        return ["m", sorted([_norm(k), _norm(x)] for k, x in v.items())]
    if isinstance(v, (list, tuple)):
        return ["a", [_norm(x) for x in v]]
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _norm(v.tolist())
    return ["s", str(v)]


def rows_digest(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Digest of a result: columns in name order, rows sorted, values
    normalized by :func:`_norm`.  Spark rows and DuckDB tuples of the same
    result digest equal."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(json.dumps([_norm(r[i]) for i in order]) for r in rows)
    h = hashlib.sha256(json.dumps(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()[:16]


def spark_rows_digest(rows: list) -> tuple[int, str]:
    columns = list(rows[0].__fields__) if rows else []
    return rows_digest(columns, [tuple(r) for r in rows])


def files_digest(path: str) -> tuple[int, str]:
    """Read a written dataset back with PyArrow (not Spark) and digest it;
    hive partition directories become columns."""
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive",
                       exclude_invalid_files=True).to_table()
    cols = sorted(table.column_names)
    rows = table.select(cols).to_pylist()
    return rows_digest(cols, [tuple(r[c] for c in cols) for r in rows])


# --------------------------------------------------------------------------
# Operation factories.


def query_op(name: str, input_key: str) -> Op:
    """A registered query: builder, then ``collect()``."""
    return Op(
        name=name,
        build=lambda c: c.specs[name].build(c.spark, c.inputs[input_key]),
        act=lambda c, df: df.collect(),
        check=spark_rows_digest,
    )


def _out(c: Ctx, name: str) -> str:
    return str(c.out / name / f"p{c.pass_no}")


def _write_partitioned(c: Ctx, df: Any) -> str:
    from auron_spark.sources.io import write_partitioned

    path = _out(c, "write_partitioned")
    write_partitioned(df, path, ["o_year"])
    return path


def _orders_by_year(c: Ctx):
    from pyspark.sql import functions as F

    from auron_spark.tables import Tables

    return Tables(c.spark, c.inputs["star"]).orders.withColumn("o_year", F.year("o_orderdate"))


WORKLOADS: dict[str, list[Op]] = {
    # Scan, join, aggregation, top-k and driver-side plan construction, then
    # the write side of `sources`: a shuffled dynamic-partition write.  No
    # Python worker runs.
    "relational": [
        query_op("q3_shipping_priority", "star"),
        Op("write_partitioned", _orders_by_year, _write_partitioned, files_digest,
           check_every_pass=False),
    ],
    # An Arrow pandas-UDF kernel: Python workers and Arrow transfer dominate,
    # the scan is tiny.
    "vector": [
        query_op("sim_knn_bruteforce_arrow", "corpus"),
    ],
}
