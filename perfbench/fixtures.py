"""Benchmark inputs: generators and the content-keyed prepare cache.

Every input is generated here with NumPy/PyArrow (no Spark, no engine code),
so preparing them costs seconds and never touches the code under test.

Two things are kept apart:

* **Content** — the rows of every table — is a pure function of the scale
  parameters and a fixed content seed (42, the seed of the repo's own test
  fixtures).  Output digests depend only on content, which is why one
  committed ``expected.json`` checks every run.
* **Layout** — row order and file boundaries — is a function of the run's
  ``--seed``.  Each seed scans a differently shuffled, differently split copy
  of the same content, so a run never measures a layout another run tuned.

Prepared inputs live under ``perfbench/.cache`` (git-ignored), one directory
per (content, layout) key.  The key hashes this file's source together with
the parameters, so editing a generator rebuilds instead of reusing a stale
copy.  Directories are published with one atomic rename.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
CACHE_ROOT = Path(__file__).resolve().parent / ".cache"

#: Scale of each mode.  ``sf`` drives the star schema (lineitem = 6M x sf
#: rows); ``vecs`` sizes the vector corpus.
SCALES = {
    "full": {"sf": 0.01, "vecs": 32768, "shards": 32},
    "smoke": {"sf": 0.001, "vecs": 256, "shards": 4},
}

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events")
_EPOCH = np.datetime64("1995-01-01", "D")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((_EPOCH + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def star_schema(sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus the ``events`` stream table, with the
    column names, types and value domains of the repo's fixtures."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    colors = np.array(["blue", "red", "green", "black", "white", "small", "large", "shiny"])
    nouns = np.array(["anvil", "bolt", "widget", "ring", "gear", "spring", "valve", "nut"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (pk % 1000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(colors[rng.integers(0, 8, n_part)], " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": retail,
    })
    odate = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)],
    })
    lok = rng.integers(0, n_ord, n_line, dtype=np.int64)
    lpk = rng.integers(0, n_part, n_line, dtype=np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": lpk,
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[lpk], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_line)),
    })
    # Zipf-ish users (low ids are "whales") so the skew queries have skew.
    users = np.floor(n_users * rng.uniform(0, 1, n_ev) ** 2).astype(np.int64)
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array((np.datetime64("2024-01-01T00:00:00", "us")
                        + (secs * 1e6).astype("timedelta64[us]"))),
        "user_id": users,
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return t


def embeddings(n_vecs: int, dim: int = 64) -> pa.Table:
    """Vector corpus: ``n_vecs / 64`` planted clusters, vector = centroid +
    2.5 x noise, ``label`` = planted cluster.  Every ``vec_id % 40 == 39``
    is its predecessor plus a 0.02-weight perturbation (a near duplicate)."""
    rng = np.random.default_rng(CONTENT_SEED + 2)
    n_clusters = max(4, n_vecs // 64)
    centroids = rng.uniform(-1, 1, (n_clusters, dim))
    label = rng.integers(0, n_clusters, n_vecs)
    noise = rng.uniform(-1, 1, (n_vecs, dim))
    dup = np.arange(n_vecs) % 40 == 39
    noise[dup] = noise[np.flatnonzero(dup) - 1] + 0.02 * rng.uniform(-1, 1, (dup.sum(), dim))
    label[dup] = label[np.flatnonzero(dup) - 1]
    vecs = (centroids[label] + 2.5 * noise).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), dim).cast(pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def _write_sharded(table: pa.Table, path: Path, shards: int, rng: np.random.Generator) -> None:
    """Shuffle rows with ``rng`` and split them over up to ``shards`` files
    at random boundaries (the run's layout)."""
    path.mkdir(parents=True)
    table = table.take(rng.permutation(table.num_rows))
    shards = max(1, min(shards, table.num_rows // 8))
    cuts = np.sort(rng.choice(np.arange(1, table.num_rows), shards - 1, replace=False)) \
        if shards > 1 else np.array([], dtype=np.int64)
    bounds = [0, *cuts.tolist(), table.num_rows]
    for i in range(shards):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       path / f"part-{i:05d}.parquet")


def _key(**params) -> str:
    src = Path(__file__).read_bytes()
    blob = json.dumps(params, sort_keys=True).encode() + src
    return hashlib.sha256(blob).hexdigest()[:16]


def _publish(final: Path, build) -> Path:
    """Build into a unique temp sibling, then rename into place (a racing or
    interrupted build never leaves a half-written directory behind)."""
    if (final / "_COMPLETE").exists():
        return final
    tmp = final.with_name(f"{final.name}.tmp-{uuid.uuid4().hex[:8]}")
    try:
        build(tmp)
        (tmp / "_COMPLETE").touch()
        try:
            os.rename(tmp, final)
        except OSError:
            if not (final / "_COMPLETE").exists():
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def prepare(mode: str, seed: int) -> dict[str, str]:
    """Build (or reuse) every workload input for ``mode`` in the layout of
    ``seed``.  Returns the directories the workloads read."""
    scale = SCALES[mode]
    CACHE_ROOT.mkdir(parents=True, exist_ok=True)
    key = _key(mode=mode, seed=seed, **scale)

    def build(into: Path) -> None:
        rng = np.random.default_rng(seed)
        star = star_schema(scale["sf"])
        for name in STAR_TABLES:
            _write_sharded(star[name], into / "star" / f"{name}.parquet",
                           scale["shards"] if name in ("lineitem", "orders", "events") else 8,
                           rng)
        _write_sharded(embeddings(scale["vecs"]), into / "corpus" / "embeddings.parquet",
                       scale["shards"], rng)

    d = _publish(CACHE_ROOT / f"{mode}-{key}", build)
    return {"star": str(d / "star"), "corpus": str(d / "corpus")}

