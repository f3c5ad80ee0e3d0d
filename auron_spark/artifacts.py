"""Committed parquet artifacts — trained models and partition layouts.

One place for the repo-relative artifact layout shared by the trained-ANN
index (`pipeline/similarity.py::build_ivfpq_index`), the partitioned month
layout (`plans/layout.py::build_month_layout`) and the binaryFile PPM
fixtures (`pipeline/multimodal.py::build_ppm_files`):

    artifacts/<kind>/<sf-name>/...

Artifacts are COMMITTED (training/layout generation is deterministic, so
rebuilds are byte-stable) and builders are idempotent behind a marker file —
the train-once/serve-many contract.

ORACLE_SF_DIR: the serve queries' DuckDB oracles must embed a literal
artifact path at registration time (a static SQL string cannot follow the
builder's runtime ``sf_dir``), so they pin to the scale factor the oracle
harness runs at — `SPARK_GRAFT_TEST_SF_DIR`, defaulting to the driver's
comparison scale sf0.01, the same resolution `tests/conftest.py` uses.
Comparing a serve query against its oracle at any OTHER scale requires
setting that env var before import; the Spark side always serves the
runtime ``sf_dir``'s artifact.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable
from pathlib import Path

ARTIFACT_ROOT = str(Path(__file__).resolve().parents[1] / "artifacts")

ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01"
)


def artifact_dir(kind: str, sf_dir: str) -> str:
    """``artifacts/<kind>/<sf-name>`` for a testdata scale directory."""
    return f"{ARTIFACT_ROOT}/{kind}/{Path(sf_dir.rstrip('/')).name}"


def ensure_artifact(
    final_dir: str,
    marker_name: str,
    build_into: Callable[[str], None],
) -> str:
    """Concurrency-safe idempotent artifact build.

    Checking and touching the marker directly in the final directory
    would let two processes racing past a missing marker interleave
    ``mode("overwrite")`` writes and commit a torn artifact.  So the
    build lands in a uniquely-named sibling temp dir and is published
    with ONE atomic ``os.rename``:

    - marker present → return immediately (train-once);
    - otherwise build into ``<final>.tmp-<pid>-<rand>``, touch the marker
      INSIDE the temp dir, then rename into place;
    - rename fails because a racer already published → discard our temp
      (their artifact is complete by construction: the marker only ever
      travels inside a fully-built tree);
    - a torn final dir with no marker (from a crash of a builder that
      wrote in place) → move the stale tree aside, publish, delete the
      stale tree.
    """
    final = Path(final_dir)
    marker = final / marker_name
    if marker.exists():
        return str(final)
    tmp = final.with_name(f"{final.name}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True, exist_ok=True)
    try:
        build_into(str(tmp))
        (tmp / marker_name).touch()
        final.parent.mkdir(parents=True, exist_ok=True)
        if final.exists() and not marker.exists():
            stale = final.with_name(
                f"{final.name}.stale-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            )
            os.rename(final, stale)
            os.rename(tmp, final)
            shutil.rmtree(stale, ignore_errors=True)
        else:
            os.rename(tmp, final)
    except OSError:
        # Lost the publish race: a complete artifact is already in place.
        shutil.rmtree(tmp, ignore_errors=True)
        if not marker.exists():
            raise
    return str(final)
