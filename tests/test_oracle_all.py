"""Differential test: every registered query vs its DuckDB oracle at sf0.01 —
the local mirror of the driver's CORRECTNESS gate, and the one place that
enforces every per-query rule (`assert_query_gates`, the empty plan cache,
a stable schema at the smoke scale).

Sharding across worker processes is the generic
``SPARK_GRAFT_TEST_SHARD=i/n`` filter in ``tests/conftest.py``, which
deals each ``test_query_vs_oracle[<name>]`` by the md5 of its node id
like every other test."""

from __future__ import annotations

import pytest

from auron_spark.registry import load_all
from tests.conftest import (
    SF_DIR,
    SF_SMOKE,
    assert_matches_oracle,
    assert_oracle_scale_consistent,
    assert_plan_cache_empty,
    assert_query_gates,
)

SPECS = load_all()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_vs_oracle(name, spark, oracle):
    spec = SPECS[name]
    assert_oracle_scale_consistent(spec, SF_DIR)
    df = spec.build(spark, SF_DIR)
    assert_query_gates(spark, df, name)
    if spec.oracle is None:
        df.collect()  # rows-only check: the query runs and has columns
        assert df.columns
    else:
        assert_matches_oracle(df, oracle, spec.oracle, name)
    # The driver's smoke scale: the query builds there too, with the same
    # output schema (nullability included).
    smoke = spec.build(spark, SF_SMOKE)
    assert smoke.schema == df.schema, (
        f"{name}: schema at {SF_SMOKE} {smoke.schema} != {df.schema}"
    )
    assert_plan_cache_empty(spark, name)
