"""Pins the oracle-compare harness itself: the driver's hash is type-sensitive
(VERDICT r1 — Decimal-vs-double / int-vs-double columns with equal values were
driver failures the old value-only normalization masked), so _norm_cell must
keep type classes distinct while still unifying DATE with midnight TIMESTAMP."""

import datetime
from decimal import Decimal

import pandas as pd
import pytest

from tests.conftest import SF_SMOKE, _norm_cell


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


def _tier_collection(monkeypatch, suite, args):
    """Drive `conftest.pytest_collection_modifyitems` on synthetic items —
    one oracle test per registered query plus a harness and a plans test
    — with SPARK_GRAFT_SUITE set to ``suite`` (None: unset) and the given
    command-line ``args``.  Returns (specs, kept items, deselected)."""
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
        pluginmanager=SimpleNamespace(get_plugin=lambda name: None),
    )
    if suite is None:
        monkeypatch.delenv("SPARK_GRAFT_SUITE", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SUITE", suite)
    monkeypatch.delenv("SPARK_GRAFT_TEST_SHARD", raising=False)
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


_SCHEMA_MEMO: dict = {}


def _all_query_schemas(spark):
    """Build every registered query's schema at smoke scale.  Builders that
    raise are collected (not swallowed) so the caller can assert the gate
    still has coverage — a blanket skip would let the lints pass vacuously
    (ADVICE r3).  Memoized per session: the ~55 s build pass runs once even
    though multiple gate tests consume it (ADVICE r4).  Every build must
    leave the session's plan cache empty."""
    from auron_spark.registry import load_all

    key = id(spark)
    if key in _SCHEMA_MEMO:
        return _SCHEMA_MEMO[key]
    schemas, errors = {}, {}
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty(), "the session-wide plan cache is not empty"
    for name, spec in load_all().items():
        try:
            schemas[name] = spec.build(spark, SF_SMOKE).schema
        except Exception as e:  # capability-gated builders land here
            errors[name] = repr(e)
        # A .cache()/.persist() never released registers its plan in the
        # session-wide CacheManager, which then serves every later query
        # with the same subplan — dropping that query's own pushed filters.
        assert cache.isEmpty(), (
            f"building {name} left a plan in the session cache"
        )
    _SCHEMA_MEMO[key] = (schemas, errors)
    return schemas, errors


def test_every_builder_produces_a_schema(spark):
    """Exact-coverage gate (ADVICE r4): every registered builder must analyze
    cleanly — no silent erosion of the downstream lints' coverage.  There are
    currently NO capability-gated builders (gated surface lives behind
    separate negative tests, not in the registry); if one is ever added,
    list it here explicitly rather than lowering a floor."""
    from auron_spark.registry import load_all

    allowed_errors: set[str] = set()
    schemas, errors = _all_query_schemas(spark)
    unexpected = {k: v for k, v in errors.items() if k not in allowed_errors}
    assert not unexpected, unexpected
    assert len(schemas) == len(load_all()) - len(errors)


def test_no_raw_timestamp_output_columns(spark):
    """No registered query may OUTPUT a raw TimestampType column: collect()
    renders TimestampType in the Python process's LOCAL timezone (not the
    UTC-pinned session TZ), so a raw-timestamp column hash-diverges the
    moment the driver host is non-UTC (found by the TZ=America/New_York
    sweep, round 3 — funnel + fn_interval).  Timestamps must leave as
    date_format() strings or epoch integers."""
    schemas, errors = _all_query_schemas(spark)
    # coverage is enforced exactly by test_every_builder_produces_a_schema
    offenders = {
        name: ts
        for name, sch in schemas.items()
        if (ts := [f.name for f in sch.fields
                   if "timestamp" in f.dataType.simpleString()])
    }
    assert not offenders, offenders


def test_no_bare_array_or_map_output_columns(spark):
    """No registered query may OUTPUT a raw ArrayType/MapType column: the
    driver's canonicalizer sorts output cells with pandas, and Python lists
    and dicts are unhashable — round 3's only red driver row (sim_pq_codes)
    was exactly this, hash-exact in self-check but a harness crash at the
    driver.  Array/map results must be serialized (array_join / to_json /
    sort_array+cast) before leaving the plan.  Rows-only queries (no oracle)
    get the same rule: the driver still materializes their output."""
    schemas, errors = _all_query_schemas(spark)
    # coverage is enforced exactly by test_every_builder_produces_a_schema
    offenders = {
        name: bad
        for name, sch in schemas.items()
        if (bad := [f.name for f in sch.fields
                    if f.dataType.typeName() in ("array", "map")])
    }
    assert not offenders, offenders


def test_coverage_counts_in_sync():
    """VERDICT r7 stretch #8: the coverage headline numbers in COVERAGE.md
    and README.md are generated from the registry by `selfcheck.py
    --sync-counts`; this gate fails the suite if they drift (run the sync
    after registering or proving queries)."""
    import selfcheck

    assert selfcheck.sync_counts(check_only=True) == 0


def test_round_records_committed():
    """VERDICT r15 wrong #1 (second consecutive dirty close): the bench's
    bracket min-merges were left uncommitted at round close while the walls
    were committed, so the committed record mismatched the run the round
    reported.  Structural fix: the suite itself fails while
    `bench_brackets.json` differs from git HEAD — a bench run must be
    followed by a bracket commit before the round's final green partest."""
    import selfcheck

    dirty = selfcheck.dirty_round_records()
    assert dirty == [], (
        f"round-record files dirty vs HEAD: {dirty} — commit the bench "
        "bracket update (round-close protocol: bench x2, then commit "
        "brackets immediately, then the final partest)"
    )


def test_no_decimal_typed_oracle_columns(oracle):
    """Round-8 regression gate: DuckDB types bare numeric literals (and
    un-cast money sums) as DECIMAL, which the driver's type-sensitive
    value hash sees as a different class than Spark's double — while the
    pandas path in selfcheck silently converts and masks it (caught live
    in dq_benford_digits).  Every oracle's result schema must be
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


def test_partest_plan_covers_whole_suite():
    """The parallel runner's worker plan must collect exactly the full
    suite: the oracle shards partition the registry by md5(name) mod n
    (hash-stable since r15 — additions never re-deal existing members),
    and every other test file is covered by exactly one worker group —
    either an unsharded worker listing it once, or a
    SPARK_GRAFT_TEST_SHARD family whose i/n specs partition the file's
    collection exactly (all residues 0..n-1 present once; conftest keeps
    the item with md5(nodeid) % n == i, so any workers collecting the
    same nodeid SET partition it exactly regardless of collection
    order)."""
    import hashlib
    from pathlib import Path

    import partest
    from auron_spark.registry import load_all

    names = sorted(load_all())
    shards = []
    groups: dict[tuple[str, ...], list[tuple[int, int] | None]] = {}
    for _label, args, extra in partest._WORKERS:
        if "SPARK_GRAFT_ORACLE_SHARD" in extra:
            i, n = (int(x) for x in extra["SPARK_GRAFT_ORACLE_SHARD"].split("/"))
            shards.append((i, n))
            assert args == ["tests/test_oracle_all.py"]
        else:
            spec = extra.get("SPARK_GRAFT_TEST_SHARD")
            groups.setdefault(tuple(args), []).append(
                tuple(int(x) for x in spec.split("/")) if spec else None
            )
    ns = {n for _i, n in shards}
    assert len(ns) == 1 and sorted(i for i, _n in shards) == list(
        range(ns.pop())
    )
    covered = set()
    for i, n in shards:
        covered.update(
            q for q in names
            if int(hashlib.md5(q.encode()).hexdigest(), 16) % n == i
        )
    assert covered == set(names)
    files: list[str] = []
    for args, specs in groups.items():
        if specs == [None]:
            files.extend(args)
            continue
        # A sharded family: every spec is i/n with one shared n and all
        # residues present exactly once — together they collect the whole
        # file group exactly once.
        assert None not in specs, (args, specs)
        fam_ns = {n for _i, n in specs}
        assert len(fam_ns) == 1, (args, specs)
        assert sorted(i for i, _n in specs) == list(range(fam_ns.pop())), (
            args, specs,
        )
        files.extend(args)
    suite_files = {
        f"tests/{p.name}"
        for p in Path(__file__).parent.glob("test_*.py")
        if p.name != "test_oracle_all.py"
    }
    assert sorted(files) == sorted(suite_files), (
        set(files) ^ suite_files
    )


def test_partest_plan_is_balanced_by_recorded_wall():
    """VERDICT r12 stretch #8: the 10-worker plan is hand-balanced, so a
    future test addition can silently rebuild a long critical path.  The
    committed partest_walls.json records each worker's BEST OBSERVED wall
    (elementwise min across runs while the plan is unchanged — a single
    run's walls measure box weather: identical oracle shards spread up to
    1.6x in one run); no worker may exceed 1.5x the median — when this
    fires, rebalance the _WORKERS plan (or re-run partest, which min-
    merges and self-heals a stale record) rather than widening the
    bound."""
    import json
    from pathlib import Path

    import partest

    p = Path(partest._REPO) / "partest_walls.json"
    assert p.exists(), "run `python partest.py` once to record worker walls"
    record = json.loads(p.read_text())
    # Record schema since r14 (ADVICE r13 #1): {best, latest, counts} —
    # `best` resets per worker when its collected-test count changes, so a
    # future test addition that rebuilds a critical path produces a fresh
    # (large) wall here instead of being discarded by the min-merge.
    walls = record.get("best", record)
    assert set(walls) == {label for label, _a, _e in partest._WORKERS}, (
        "worker plan changed since the recorded run — re-run partest.py"
    )
    vals = sorted(walls.values())
    median = vals[len(vals) // 2]
    worst = max(walls, key=walls.get)
    assert walls[worst] <= 1.5 * median, (
        f"critical path rebuilt: {worst}={walls[worst]}s vs median "
        f"{median}s — rebalance partest._WORKERS"
    )


def test_bench_brackets_record_structure():
    """bench_brackets.json (the self-adjudication record, VERDICT r13 ask
    #5) must stay structurally valid when present: known group names,
    positive best subtotals, sorted query lists.  Membership drift is NOT
    an error — _adjudicate resets a group's bracket when its query set
    changes — but a malformed record would silently disable every
    trigger, so the shape is pinned."""
    import json
    from pathlib import Path

    import bench

    p = Path(bench._REPO) / "bench_brackets.json"
    if not p.exists():
        import pytest

        pytest.skip("no bench run recorded yet")
    rec = json.loads(p.read_text())
    known = {"relational", "pipeline", "trainers", "text_scale",
             "vector_scale"}
    scale = rec.pop("_scale", None)
    assert scale and "sf_dir" in scale, scale  # brackets are per-SF
    assert set(rec) <= known, set(rec) - known
    for group, entry in rec.items():
        assert entry["best_subtotal"] > 0, (group, entry)
        assert entry["queries"] == sorted(entry["queries"]), group
        assert len(entry["queries"]) >= 1, group
        # Per-query bests (VERDICT r14 wrong #4): optional until the first
        # r15 bench run writes them, then keyed exactly by the query set.
        if "best_queries" in entry:
            assert set(entry["best_queries"]) == set(entry["queries"]), group
            assert all(v > 0 for v in entry["best_queries"].values()), group


def test_bench_brackets_cross_scale_write_refused(tmp_path, monkeypatch):
    """_persist_brackets (VERDICT r16 wrong #4): a bench run at a
    DIFFERENT `_scale` (sf dir / corpus knobs / core count) must never
    overwrite the committed bracket record — r16 caught an sf0.01 record
    committed by review; the writer now refuses structurally.  Same-scale
    writes and first-ever seeding still land."""
    import json
    import os

    import bench

    p = tmp_path / "bench_brackets.json"
    monkeypatch.setattr(bench, "_BRACKETS_PATH", str(p))
    sf01 = {"sf_dir": "/root/testdata/sf0.1", "text_docs": 65536,
            "vector_vecs": 32768, "cpus": 32}
    sf001 = {"sf_dir": "/root/testdata/sf0.01", "text_docs": 0,
             "vector_vecs": 0, "cpus": 32}
    seeded = {"_scale": sf01, "relational": {"best_subtotal": 10.0,
              "queries": ["q1_pricing_summary"],
              "best_queries": {"q1_pricing_summary": 10.0}}}
    # first-ever write seeds the file
    assert bench._persist_brackets(seeded) is True
    assert json.loads(p.read_text()) == seeded
    # a cross-scale record is refused and the file is untouched
    foreign = {"_scale": sf001, "relational": {"best_subtotal": 1.0,
               "queries": ["q1_pricing_summary"],
               "best_queries": {"q1_pricing_summary": 1.0}}}
    assert bench._persist_brackets(foreign) is False
    assert json.loads(p.read_text()) == seeded
    # so is one that differs only in the box's core count, which the
    # run's own key always carries
    monkeypatch.delenv("SPARK_GRAFT_TEXT_DOCS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_VECTOR_VECS", raising=False)
    key = bench._scale_key(sf01["sf_dir"])
    assert key == {**sf01, "cpus": os.cpu_count()}
    other_box = dict(seeded, _scale={**sf01, "cpus": 4})
    assert bench._persist_brackets(other_box) is False
    assert json.loads(p.read_text()) == seeded
    assert bench._load_brackets({**sf01, "cpus": 4}) == {
        "_scale": {**sf01, "cpus": 4}
    }
    # a same-scale min-merge still lands
    merged = dict(seeded)
    merged["relational"] = {"best_subtotal": 9.0,
                            "queries": ["q1_pricing_summary"],
                            "best_queries": {"q1_pricing_summary": 9.0}}
    assert bench._persist_brackets(merged) is True
    assert json.loads(p.read_text()) == merged


def test_bench_adjudicate_per_query_trigger():
    """_adjudicate must trip on a SINGLE-query spike even when the group
    subtotal stays under the 1.5x group trigger (VERDICT r14 wrong #4 —
    the r14 sim_knn_ivf_serve 2.69x spike sailed under it), must adopt
    the per-query min of both passes, and must min-merge per-query bests
    into the bracket record; a same-shape run with NO spike must not
    re-run."""
    import bench

    def mk(warm):
        return {"warm": dict(warm), "warm_runs": {n: [v] for n, v in warm.items()}}

    brackets = {
        "pipeline": {
            "best_subtotal": 10.0,
            "queries": ["a", "b", "c"],
            "best_queries": {"a": 1.0, "b": 2.0, "c": 7.0},
        }
    }
    # b spikes 3x its best; subtotal 12.0 < 1.5 * 10.0 — group trigger blind.
    res = mk({"a": 1.0, "b": 6.0, "c": 5.0})
    calls = []

    def rerun():
        calls.append(1)
        return mk({"a": 1.1, "b": 2.1, "c": 6.0})

    res, verdict = bench._adjudicate("pipeline", res, brackets, rerun)
    assert calls, "per-query spike did not trigger a rerun"
    assert verdict["trigger"] == "per_query", verdict
    assert "b" in verdict["per_query_spikes"], verdict
    assert res["warm"]["b"] == 2.1  # adopted the min of both passes
    merged = brackets["pipeline"]["best_queries"]
    assert merged == {"a": 1.0, "b": 2.0, "c": 5.0}, merged  # min-merged
    assert brackets["pipeline"]["best_subtotal"] == 8.1  # 1.0+2.1+5.0

    # No spike, subtotal inside the bracket: no rerun, bests still merge.
    calls.clear()
    res2, verdict2 = bench._adjudicate(
        "pipeline", mk({"a": 0.9, "b": 2.2, "c": 5.5}), brackets, rerun
    )
    assert not calls and verdict2 is None
    assert brackets["pipeline"]["best_queries"]["a"] == 0.9

    # Tiny queries can't trip on jitter: 3x of a 0.05s best is under the
    # 0.25s absolute floor.
    brackets["tiny"] = {
        "best_subtotal": 0.1,
        "queries": ["t"],
        "best_queries": {"t": 0.05},
    }
    calls.clear()
    _, v3 = bench._adjudicate("tiny", mk({"t": 0.14}), brackets, rerun)
    assert not calls and v3 is None


def test_bench_adjudicate_set_change_keeps_intersecting_bests():
    """ADVICE r15 #3: when a group's query set changes, the per-query
    bests of names still present must SURVIVE (only the subtotal bracket,
    incomparable across sets, resets) — so a noise spike in the first run
    after a set change cannot seed an inflated committed floor, and the
    per-query trigger still fires for the unchanged names."""
    import bench

    def mk(warm):
        return {
            "warm": dict(warm),
            "warm_runs": {n: [v] for n, v in warm.items()},
        }

    brackets = {
        "pipeline": {
            "best_subtotal": 3.0,
            "queries": ["a", "b"],
            "best_queries": {"a": 1.0, "b": 2.0},
        }
    }
    calls = []

    def rerun():
        calls.append(1)
        return mk({"a": 1.0, "b": 2.1, "new": 0.5})

    # Set gained "new"; a spikes 3.5x its surviving best -> rerun fires
    # even though same_set is False (no subtotal bracket to compare).
    res = mk({"a": 3.5, "b": 2.0, "new": 0.6})
    res, verdict = bench._adjudicate("pipeline", res, brackets, rerun)
    assert calls, "per-query spike after set change did not trigger"
    assert verdict["trigger"] == "per_query", verdict
    assert verdict["bracket"] is None  # no comparable subtotal bracket
    assert res["warm"]["a"] == 1.0  # adopted the rerun's min
    merged = brackets["pipeline"]["best_queries"]
    # a/b min-merged against their surviving bests; new seeded from the run
    assert merged == {"a": 1.0, "b": 2.0, "new": 0.5}, merged
    assert brackets["pipeline"]["queries"] == ["a", "b", "new"]
