"""Differential test: every registered query vs its DuckDB oracle at sf0.01 —
the local mirror of the driver's CORRECTNESS gate.

Sharding across worker processes is the generic
``SPARK_GRAFT_TEST_SHARD=i/n`` filter in ``tests/conftest.py``, which
deals each ``test_query_vs_oracle[<name>]`` by the md5 of its node id
like every other test."""

from __future__ import annotations

import pytest

from auron_spark.registry import load_all
from tests.conftest import (
    SF_DIR,
    assert_matches_oracle,
    assert_oracle_scale_consistent,
)

SPECS = load_all()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_vs_oracle(name, spark, oracle):
    spec = SPECS[name]
    assert_oracle_scale_consistent(spec, SF_DIR)
    df = spec.build(spark, SF_DIR)
    if spec.oracle is None:
        # rows-only check: runs, has a stable schema, returns >= 0 rows
        rows = df.collect()
        assert rows is not None
        assert len(df.columns) > 0
    else:
        assert_matches_oracle(df, oracle, spec.oracle, name)
