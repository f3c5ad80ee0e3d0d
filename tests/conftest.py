"""Shared fixtures: one SparkSession per test session, a DuckDB oracle with the
fixture tables registered as views, and the exact-compare helper that mirrors
the driver's row-count + schema + order-insensitive value check."""

from __future__ import annotations

import datetime
import math
import os
import sys
import uuid
from contextlib import contextmanager
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
    """Same column names (sorted, case-insensitive), same row count, and
    the same order-insensitive, type-class-sensitive values."""
    got_df, want_df = spark_df.toPandas(), con.execute(sql).df()
    got_cols, want_cols = (
        sorted(map(str.lower, df.columns)) for df in (got_df, want_df)
    )
    assert got_cols == want_cols, (
        f"{name}: columns {got_cols} != oracle {want_cols}"
    )
    got, want = normalize(got_df), normalize(want_df)
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


@contextmanager
def spark_jobs(spark):
    """Collect the Spark jobs the ``with`` body launches, one
    ``"job <id>: <stage names>"`` string each, counted in a job group of
    their own through ``statusTracker()``."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    jobs: list[str] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc._jsc.clearJobGroup()
    # Job events reach the status store through the listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    for j in sorted(st.getJobIdsForGroup(group)):
        info = st.getJobInfo(j)
        stages = [st.getStageInfo(s) for s in (info.stageIds if info else [])]
        jobs.append(f"job {j}: " + ", ".join(s.name for s in stages if s))


def assert_plan_cache_empty(spark, name: str) -> None:
    """A .cache()/.persist() never released registers its plan in the
    session-wide CacheManager, which then serves every later query with
    the same subplan — dropping that query's own pushed filters."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty(), f"building {name} left a plan in the session cache"


def assert_query_gates(spark, df, name: str) -> None:
    """The per-query rules on a registered query's output frame.  Call it
    before the frame is collected: the collect runs on the same
    QueryExecution, so the plan is built only once."""
    fields = df.schema.fields
    # collect() renders TimestampType in the Python process's LOCAL
    # timezone, not the UTC-pinned session TZ, so a raw-timestamp column
    # hash-diverges the moment the driver host is non-UTC.  Timestamps
    # leave as date_format() strings or epoch integers.
    ts = [f.name for f in fields if "timestamp" in f.dataType.simpleString()]
    assert not ts, f"{name}: raw timestamp output columns {ts}"
    # The driver's canonicalizer sorts output cells with pandas, and Python
    # lists and dicts are unhashable: array/map results are serialized
    # (array_join / to_json / sort_array+cast) before leaving the plan.
    bare = [f.name for f in fields if f.dataType.typeName() in ("array", "map")]
    assert not bare, f"{name}: bare array/map output columns {bare}"
    # Even a deliberate cross join rides a broadcast nested loop (bounded
    # build side): an unnoticed CartesianProduct is the canonical 100 TB
    # meltdown.  Check it at SF_DIR: broadcast choices follow table sizes.
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: plans a CartesianProduct"
    assert_plan_cache_empty(spark, name)


# --- opt-in FAST tier --------------------------------------------------------
# Every run collects the whole suite unless SPARK_GRAFT_SUITE=fast, which
# keeps only the FAST tier: the harness gates, the bench-set plan goldens,
# the Spark-free exactness tests of the vector kernels, and the oracle
# battery restricted to the bench queries that carry an oracle — a quick
# gate that re-checks exactly the queries whose speed is measured.  The
# per-query gates (`assert_query_gates`, the smoke-scale schema) ride the
# oracle battery, so in this tier they cover only those bench queries.
# The tier is chosen by the variable alone, never by parsing the command
# line.
_FAST_TIER_FILES = {
    "test_harness.py",        # registry/tier/bench-contract gates
    "test_plan_stability.py",  # bench-set plan goldens (the plan gate)
    "test_vector_kernels.py",  # exactness of the vector bench's kernels
}


def _shard_spec(spec: str) -> tuple[int, int]:
    """Parse ``SPARK_GRAFT_TEST_SHARD``: ``i/n`` with 0 <= i < n."""
    try:
        i, n = (int(x) for x in spec.split("/"))
    except ValueError:
        i, n = 0, 0
    if not 0 <= i < n:
        raise pytest.UsageError(
            f"SPARK_GRAFT_TEST_SHARD={spec!r}: expected i/n with 0 <= i < n"
        )
    return i, n


_COLLECTED = pytest.StashKey[int]()


@pytest.hookimpl(tryfirst=True)  # before -k/-m: count the whole collection
def pytest_collection_modifyitems(config, items):
    """Worker sharding for any test file: ``SPARK_GRAFT_TEST_SHARD=i/n``
    keeps every test whose md5(nodeid) is congruent to i mod n.  A test's
    shard depends only on its own nodeid, so adding a test moves nothing
    else, and the n shards of one collection partition it exactly.
    Unset (the default) collects everything; a malformed spec is a
    usage error.

    With SPARK_GRAFT_SUITE=fast only the FAST tier is kept (see
    `_FAST_TIER_FILES` above).  Items dropped by the shard or the tier
    are reported as deselected (they show in the summary's "N
    deselected"); `pytest_report_collectionfinish` names the tier and
    shard that ran."""
    config.stash[_COLLECTED] = len(items)
    shard = os.environ.get("SPARK_GRAFT_TEST_SHARD")
    if shard:
        import hashlib

        i, n = _shard_spec(shard)
        kept = [
            it for it in items
            if int(hashlib.md5(it.nodeid.encode()).hexdigest(), 16) % n == i
        ]
        _deselect_all_but(config, items, kept)
    if os.environ.get("SPARK_GRAFT_SUITE") == "fast":
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
        _deselect_all_but(config, items, kept)


def pytest_report_collectionfinish(config, items):
    """The banner line naming the tier and shard that run.  pytest calls
    this hook after every deselection (the shard, the tier, ``-k``,
    ``-m``), so it counts the tests that will actually run."""
    shard = os.environ.get("SPARK_GRAFT_TEST_SHARD")
    where = f", shard {shard}" if shard else ""
    collected = config.stash.get(_COLLECTED, len(items))
    if os.environ.get("SPARK_GRAFT_SUITE") == "fast":
        return (
            f"suite tier: FAST{where}, {len(items)} of {collected} tests kept "
            "(unset SPARK_GRAFT_SUITE to run the whole battery)"
        )
    return (
        f"suite tier: full{where}, {len(items)} of {collected} "
        "collected tests kept"
    )


def _deselect_all_but(config, items, kept) -> None:
    """Narrow ``items`` to ``kept`` in place, reporting the rest as
    deselected."""
    keep = {id(it) for it in kept}
    config.hook.pytest_deselected(
        items=[it for it in items if id(it) not in keep]
    )
    items[:] = kept
