"""Pins the oracle-compare harness itself: the driver's hash is type-sensitive
(VERDICT r1 — Decimal-vs-double / int-vs-double columns with equal values were
driver failures the old value-only normalization masked), so _norm_cell must
keep type classes distinct while still unifying DATE with midnight TIMESTAMP."""

import datetime
from decimal import Decimal

import pandas as pd
import pytest

from tests.conftest import (
    SF_DIR,
    SF_SMOKE,
    _norm_cell,
    assert_matches_oracle,
    assert_query_gates,
    spark_jobs,
)


def test_int_vs_float_distinct():
    assert _norm_cell(7) != _norm_cell(7.0)


def test_decimal_vs_float_distinct():
    assert _norm_cell(Decimal("1.50")) != _norm_cell(1.5)


def test_bool_vs_int_distinct():
    assert _norm_cell(True) != _norm_cell(1)


def test_date_and_midnight_timestamp_unify():
    d = datetime.date(1995, 3, 15)
    assert _norm_cell(d) == _norm_cell(pd.Timestamp("1995-03-15 00:00:00"))
    assert _norm_cell(d) == _norm_cell(datetime.datetime(1995, 3, 15))


def test_nan_equals_nan():
    assert _norm_cell(float("nan")) == _norm_cell(float("nan"))


def test_nested_arrays_tagged():
    assert _norm_cell([1, 2]) != _norm_cell([1.0, 2.0])
    assert _norm_cell([1, 2]) == _norm_cell((1, 2))


def test_oracle_compare_checks_column_names():
    """Equal values under a renamed column fail the oracle compare; the
    same frame under the oracle's names passes (no Spark: a stub with
    ``toPandas`` stands in for the Spark frame)."""
    from types import SimpleNamespace

    import duckdb

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}))
    sql = "SELECT k, v AS label FROM t"
    same = SimpleNamespace(toPandas=lambda: pd.DataFrame(
        {"K": [2, 1], "label": ["b", "a"]}
    ))
    renamed = SimpleNamespace(toPandas=lambda: pd.DataFrame(
        {"k": [1, 2], "name": ["a", "b"]}
    ))
    assert_matches_oracle(same, con, sql, "same")
    with pytest.raises(AssertionError, match="columns"):
        assert_matches_oracle(renamed, con, sql, "renamed")
    con.close()


def _tier_collection(monkeypatch, suite, args, shard=None):
    """Drive `conftest.pytest_collection_modifyitems` on synthetic items —
    one oracle test per registered query plus a harness and a plans test
    — with SPARK_GRAFT_SUITE set to ``suite`` and SPARK_GRAFT_TEST_SHARD
    to ``shard`` (None: unset) and the given command-line ``args``.
    Returns (specs, kept items, deselected)."""
    from types import SimpleNamespace

    from auron_spark import registry
    from tests import conftest

    specs = registry.load_all()

    def item(fname, name=None):
        return SimpleNamespace(
            fspath=f"tests/{fname}", nodeid=f"tests/{fname}::{name}",
            callspec=SimpleNamespace(params={"name": name}),
        )

    items = [item("test_oracle_all.py", n) for n in specs]
    items += [item("test_harness.py"), item("test_plans.py")]
    deselected = []
    config = SimpleNamespace(
        invocation_params=SimpleNamespace(args=args),
        hook=SimpleNamespace(
            pytest_deselected=lambda items: deselected.extend(items)
        ),
        stash={},
    )
    if suite is None:
        monkeypatch.delenv("SPARK_GRAFT_SUITE", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SUITE", suite)
    if shard is None:
        monkeypatch.delenv("SPARK_GRAFT_TEST_SHARD", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_TEST_SHARD", shard)
    conftest.pytest_collection_modifyitems(config, items)
    return specs, items, deselected


def test_fast_tier_keeps_bench_oracles(monkeypatch):
    """SPARK_GRAFT_SUITE=fast keeps, from the oracle battery, exactly the
    oracle tests of the bench queries that have an oracle (so the quick
    gate re-checks the queries whose speed is measured), plus every test
    of the tier's own files; `load_all()` keeps registration order."""
    from auron_spark import registry

    specs, items, deselected = _tier_collection(
        monkeypatch, "fast", ("tests/", "-q")
    )
    assert list(specs) == list(registry.REGISTRY)
    want = {n for n, s in specs.items() if s.bench and s.oracle is not None}
    assert want
    kept = {
        it.callspec.params["name"]
        for it in items if it.fspath.endswith("test_oracle_all.py")
    }
    assert kept == want
    assert [it.fspath for it in items if it.callspec.params["name"] is None] \
        == ["tests/test_harness.py"]
    assert len(items) + len(deselected) == len(specs) + 2


@pytest.mark.parametrize(
    "args",
    [("tests/",), ("tests/", "-p", "no:warnings"), ("tests/", "-q")],
    ids=["dir", "dir-p-value", "dir-q"],
)
def test_unset_suite_keeps_every_test(monkeypatch, args):
    """With SPARK_GRAFT_SUITE unset every collected test is kept, whatever
    the command line says — an option's value (``-p no:warnings``) is not
    a path that could switch the tier."""
    specs, items, deselected = _tier_collection(monkeypatch, None, args)
    assert len(items) == len(specs) + 2 and not deselected


def test_test_shards_partition_the_suite(monkeypatch):
    """The n shards of SPARK_GRAFT_TEST_SHARD partition one collection
    exactly: pairwise disjoint, their union the whole collection, and
    every dropped item reported as deselected."""
    n = 3
    kept = []
    for i in range(n):
        specs, items, deselected = _tier_collection(
            monkeypatch, None, ("tests/",), shard=f"{i}/{n}"
        )
        assert len(items) + len(deselected) == len(specs) + 2
        kept.append({it.nodeid for it in items})
    # Sizes that add up to the union's are pairwise disjoint.
    union = set().union(*kept)
    assert sum(map(len, kept)) == len(union) == len(specs) + 2


def test_tier_banner_counts_after_keyword_deselection():
    """The tier banner counts the tests that will run after pytest's own
    ``-k`` deselection (a hook of pytest's, so a real collection in a
    child process), not the ones the shard and the tier kept."""
    import os
    import re
    import subprocess
    import sys
    from pathlib import Path

    env = {
        k: v for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_SUITE", "SPARK_GRAFT_TEST_SHARD")
    }
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-k", "nan_equals_nan or int_vs_float", __file__],
        capture_output=True, text=True, env=env,
        cwd=Path(__file__).resolve().parent.parent,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    total = int(re.search(r"2/(\d+) tests collected", proc.stdout).group(1))
    assert total > 2
    assert f"suite tier: full, 2 of {total} collected tests kept" \
        in proc.stdout, proc.stdout


@pytest.mark.parametrize("shard", ["2/2", "0/0", "a/b", "1"])
def test_malformed_shard_spec_is_usage_error(monkeypatch, shard):
    """A shard spec outside ``i/n`` with 0 <= i < n stops the run with a
    usage error instead of silently keeping no tests or crashing."""
    with pytest.raises(pytest.UsageError, match="0 <= i < n"):
        _tier_collection(monkeypatch, None, ("tests/",), shard=shard)


def test_shingles_short_documents(spark):
    """Docs with < 3 words must shingle to an empty array, not raise —
    DuckDB's range(1, len-1) is empty while an unguarded Spark
    sequence(1, size-2) descends and element_at(w, 0) errors."""
    import pyspark.sql.functions as F

    from auron_spark.pipeline.dedup import shingles

    df = spark.createDataFrame(
        [("a",), ("a b",), ("a b c",), ("a b c d",), ("",)], ["text"]
    ).select(F.split(F.lower("text"), " ").alias("w"))
    rows = df.select(F.size(shingles()).alias("n")).collect()
    assert [r.n for r in rows] == [0, 0, 1, 2, 0]


def test_no_repeated_get_json_object_lint():
    """Repo-wide lint for the reference's parse-once rewrite
    (NativeConverters.scala:1213-1232): no function in auron_spark/ may call
    get_json_object more than once on the same input column — repeated
    extraction must go through plans.json_once.json_extract_paths (one
    from_json parse) or the variant path."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent / "auron_spark"
    offenders = []
    for py in sorted(root.rglob("*.py")):
        tree = ast.parse(py.read_text())
        for fn in [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]:
            per_col: dict[str, int] = {}
            for call in [n for n in ast.walk(fn) if isinstance(n, ast.Call)]:
                f = call.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                if name == "get_json_object" and call.args:
                    col = ast.dump(call.args[0])
                    per_col[col] = per_col.get(col, 0) + 1
            for col, n in per_col.items():
                if n > 1:
                    offenders.append(f"{py.name}:{fn.name} parses {col} {n}x")
    assert not offenders, (
        "repeated get_json_object on one column (use json_extract_paths): "
        + "; ".join(offenders)
    )


def test_hash_sampling_append_stable(spark):
    """The leak-free-split property: computing the split over a PREFIX of the
    corpus assigns every document exactly what the full corpus assigns it —
    appends never reassign, so yesterday's test set never bleeds into
    tomorrow's train set."""
    import pyspark.sql.functions as F

    from auron_spark.pipeline.sampling import hash_bucket

    full = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    prefix = full.filter(F.col("doc_id") < 500)
    b = hash_bucket(F.col("doc_id"))
    on_full = {
        r.doc_id: r.b for r in full.select("doc_id", b.alias("b")).collect()
    }
    on_prefix = {
        r.doc_id: r.b for r in prefix.select("doc_id", b.alias("b")).collect()
    }
    assert all(on_full[k] == v for k, v in on_prefix.items())
    # and the bucket distribution is roughly uniform (no dead buckets)
    from collections import Counter

    counts = Counter(on_full.values())
    assert len(counts) == 100
    assert max(counts.values()) < 3 * (2000 // 100)


def test_json_extract_paths_rejects_prefix_conflicts():
    """A path that is both a leaf and a prefix of another path ("user" +
    "user.id") would silently return a struct where get_json_object returns
    JSON text — the helper must fail loudly, in either merge order."""
    import pytest

    from auron_spark.plans.json_once import _merge_into_tree, _parse_path

    for specs in (["user", "user.id"], ["user.id", "user"]):
        tree: dict = {}
        with pytest.raises(ValueError, match="JSON path conflict"):
            for p in specs:
                _merge_into_tree(tree, _parse_path(p), 0)


def test_query_gates_name_each_rule(spark):
    """`assert_query_gates` passes a clean frame and fails, naming the
    rule, on a frame that breaks each of its rules."""
    from pyspark.sql import functions as F

    one = spark.range(3)
    assert_query_gates(spark, one, "probe")
    for df, rule in [
        (one.select(F.current_timestamp().alias("t")), "timestamp"),
        (one.select(F.array("id").alias("a")), "array/map"),
        (one.select(F.create_map("id", "id").alias("m")), "array/map"),
    ]:
        with pytest.raises(AssertionError, match=rule):
            assert_query_gates(spark, df, "probe")
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        with pytest.raises(AssertionError, match="CartesianProduct"):
            assert_query_gates(spark, one.crossJoin(spark.range(3)), "probe")
    finally:
        spark.conf.set(key, saved)
    cached = spark.range(3).cache()
    try:
        with pytest.raises(AssertionError, match="session cache"):
            assert_query_gates(spark, cached, "probe")
    finally:
        cached.unpersist()


def test_bench_shard_dir_follows_fixture_files(tmp_path):
    """bench.py keys its sharded fixture copy by the source files, so a
    regenerated fixture is resharded, not served from the old copy."""
    import os

    import bench
    from auron_spark.tables import TABLE_NAMES

    for name in TABLE_NAMES:
        (tmp_path / f"{name}.parquet").write_bytes(b"PAR1")
    first = bench._shard_dir_for(str(tmp_path))
    assert bench._shard_dir_for(f"{tmp_path}/") == first
    assert os.path.basename(first).startswith(f"{tmp_path.name}-")
    # same size, new mtime: a regeneration that kept the byte count
    orders = tmp_path / "orders.parquet"
    st = orders.stat()
    orders.write_bytes(b"PAR2")
    os.utime(orders, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert bench._shard_dir_for(str(tmp_path)) != first


def test_coverage_counts_in_sync():
    """The coverage headline numbers in COVERAGE.md and README.md are
    generated from the registry by `python selfcheck.py`; this gate fails
    the suite if they drift (run the sync after registering queries)."""
    import selfcheck

    assert selfcheck.sync_counts(check_only=True) == 0


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_DIR], ids=["sf_smoke", "sf_dir"])
def test_fixture_dtypes_pinned(spark, sf_dir):
    """Fixture-schema canary: regenerated fixtures have drifted column
    types before (events.ts went from TIMESTAMP(NANOS)-as-int64 to
    timestamp[us], silently breaking 28 queries), so the columns whose
    physical type the readers depend on are pinned here — one clear
    failure instead of dozens of per-query oracle mismatches.  Each
    table() read must also carry the schema a fresh inference gives
    now: a regen is re-inferred, never served from the schema cache."""
    from auron_spark.tables import normalize_events_ts, table

    pinned = {
        "events": {"ts": {"timestamp", "timestamp_ntz"}},
        "lineitem": {
            "l_quantity": {"decimal(15,2)", "double", "bigint"},
            "l_shipdate": {"date", "timestamp", "timestamp_ntz"},
        },
        "orders": {"o_orderdate": {"date", "timestamp", "timestamp_ntz"}},
        "documents": {"doc_id": {"bigint", "string"}, "text": {"string"}},
        "embeddings": {"embedding": {"array<float>", "array<double>"}},
    }
    drift, stale = {}, []
    for tbl, cols in pinned.items():
        df = table(spark, sf_dir, tbl)
        fresh = spark.read.parquet(f"{sf_dir}/{tbl}.parquet")
        if tbl == "events":
            fresh = normalize_events_ts(fresh)
        if df.schema != fresh.schema:
            stale.append(tbl)
        dtypes = dict(df.dtypes)
        for col, allowed in cols.items():
            if dtypes.get(col) not in allowed:
                drift[f"{tbl}.{col}"] = (dtypes.get(col), sorted(allowed))
    assert not stale, f"table() read a stale cached schema at {sf_dir}: {stale}"
    assert not drift, (
        f"fixture schema drift at {sf_dir} (read as, expected one of): "
        f"{drift}; audit tables.py"
    )


def test_q3_rebuild_launches_no_job(spark):
    """Build layer: with its tables' schemas resolved, building
    q3_shipping_priority is planning only — a second build launches no
    Spark job.  A failure lists the jobs eager work put back."""
    from auron_spark.registry import load_all

    spec = load_all()["q3_shipping_priority"]
    spec.build(spark, SF_DIR)
    with spark_jobs(spark) as jobs:
        spec.build(spark, SF_DIR)
    assert not jobs, f"q3_shipping_priority's second build launched {jobs}"


def test_no_decimal_typed_oracle_columns(oracle):
    """Round-8 regression gate: DuckDB types bare numeric literals (and
    un-cast money sums) as DECIMAL, which the driver's type-sensitive
    value hash sees as a different class than Spark's double — while a
    comparison through pandas can silently convert and mask it (caught
    live in dq_benford_digits).  Every oracle's result schema must be
    DECIMAL-free: cast to DOUBLE/BIGINT at the oracle's outermost select."""
    from auron_spark.registry import load_all

    offenders = {}
    for name, spec in load_all().items():
        if spec.oracle is None:
            continue
        rel = oracle.sql(
            f"SELECT * FROM ({spec.oracle.rstrip().rstrip(';')}) q LIMIT 0"
        )
        decs = [
            c for c, ty in zip(rel.columns, rel.types) if "DECIMAL" in str(ty)
        ]
        if decs:
            offenders[name] = decs
    assert not offenders, offenders


def test_partest_worker_count():
    """`partest.worker_count`: one worker per 4 cores, capped by how many
    driver heaps fit in physical RAM, never below one."""
    import partest

    gb = 1 << 30
    assert partest.worker_count(4, 15 * gb, "8g") == 1
    assert partest.worker_count(32, 128 * gb, "8g") == 8
    assert partest.worker_count(32, 16 * gb, "8g") == 2
    assert partest.worker_count(2, 4 * gb, "8192m") == 1


def test_python_task_prunes_zipimporters(tmp_path):
    """`python_task` (the per-task entry of the mapInPandas/mapInArrow
    kernels) passes a kernel's batches through unchanged and leaves no
    zipimporter in `sys.path_importer_cache`, whose per-task cache
    invalidation re-reads each archive on CPython 3.10-3.12.  The wrapper
    pickles by value: a process that cannot import this package (a
    Python worker) runs it."""
    import subprocess
    import sys
    import zipfile
    import zipimport

    from pyspark import cloudpickle

    from auron_spark.functions.pytask import python_task

    zpath = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("mod_in_zip.py", "X = 1\n")
    sys.path_importer_cache[zpath] = zipimport.zipimporter(zpath)
    batches = [pd.DataFrame({"a": [1, 2]}), pd.DataFrame({"a": [3]})]

    def kernel(it):
        yield from it

    task = python_task(kernel)
    try:
        out = list(task(iter(batches)))
        zips = [
            p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)
        ]
    finally:
        sys.path_importer_cache.pop(zpath, None)
    assert len(out) == 2 and all(o is b for o, b in zip(out, batches)), out
    assert not zips, f"zipimporters left in the cache: {zips}"
    assert task.__name__ == "kernel"

    blob = tmp_path / "task.pkl"
    blob.write_bytes(cloudpickle.dumps(task))
    probe = (
        "import pickle, sys; f = pickle.load(open(sys.argv[1], 'rb')); "
        "assert 'auron_spark' not in sys.modules; print(list(f(iter([1, 2]))))"
    )
    run = subprocess.run(
        [sys.executable, "-c", probe, str(blob)],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert run.returncode == 0 and run.stdout.strip() == "[1, 2]", run.stderr
