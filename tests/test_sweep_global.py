"""Whole-registry plan sweeps — every test here plans ALL ~500 registered
queries (about 212 s against 1-6 s for a normal plan gate), so it is kept
apart from the per-query plan gates in test_plans.py."""

from __future__ import annotations

from auron_spark.registry import load_all
from tests.conftest import SF_DIR

SPECS = load_all()


def test_no_cartesian_product_anywhere(spark):
    """Global plan-hygiene sweep: NO registered query may plan a
    CartesianProduct — even deliberate cross joins must ride a broadcast
    nested loop (bounded build side).  An unnoticed cartesian is the
    canonical 100 TB meltdown; this sweeps the whole registry so a future
    query can't introduce one silently."""
    offenders = []
    for name, spec in SPECS.items():
        plan = spec.build(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders
