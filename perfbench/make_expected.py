#!/usr/bin/env python3
"""Regenerate ``expected.json``: the digest every operation's output must have.

    python3 perfbench/make_expected.py

Run from the root of a checkout.  For each mode (full, smoke) it runs every
operation once on the inputs of two layout seeds, requires both layouts to
give the same digest, and cross-checks each registered query that has a
DuckDB oracle against that oracle on the same inputs.  It refuses to write
the file if any check disagrees.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(Path.cwd()))

import fixtures  # noqa: E402
from workloads import WORKLOADS, Ctx, rows_digest  # noqa: E402

_DIRS = {"star": fixtures.STAR_TABLES, "corpus": ("embeddings",)}

# Oracles for operations that are not registered queries: the content the
# written dataset must hold (partition column included).
_WRITE_ORACLES = {
    "write_partitioned": "SELECT *, year(o_orderdate) AS o_year FROM orders",
}


def _query_chunks(sql: str) -> list[str]:
    """The k-NN oracle joins every query vector with the whole corpus and
    ranks per query; at 32k vectors that join spills ~20 GB.  Its query side
    is the predicate ``q.vec_id < QUERY_CAP``, so running it on disjoint
    ranges of query ids and concatenating the rows gives the same result."""
    from auron_spark.pipeline.similarity import QUERY_CAP

    marker = f"q.vec_id < {QUERY_CAP}"
    if sql.count(marker) != 1:
        return [sql]
    step = QUERY_CAP // 10
    return [sql.replace(marker, f"q.vec_id >= {lo} AND q.vec_id < {lo + step}")
            for lo in range(0, QUERY_CAP, step)]


def oracle_digest(sql: str, input_dir: str, tables: tuple[str, ...]) -> tuple[int, str]:
    import duckdb

    con = duckdb.connect()
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{fixtures.CACHE_ROOT / 'duckdb-tmp'}'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{input_dir}/{t}.parquet/*.parquet')")
    rows: list[tuple] = []
    for chunk in _query_chunks(sql):
        cur = con.execute(chunk)
        cols = [d[0] for d in cur.description]
        rows += cur.fetchall()
    return rows_digest(cols, rows)


def oracle_sql(specs: dict, name: str) -> str | None:
    """The DuckDB oracle of an operation; an Arrow-kernel twin shares its
    fold twin's semantics and so its oracle."""
    if name in _WRITE_ORACLES:
        return _WRITE_ORACLES[name]
    for candidate in (name, name.removesuffix("_arrow")):
        spec = specs.get(candidate)
        if spec is not None and spec.oracle:
            return spec.oracle
    return None


def main() -> int:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    from auron_spark.registry import load_all
    from auron_spark.session import get_spark

    specs = load_all()
    spark = get_spark("perfbench-expected", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    expected: dict[str, dict] = {}
    problems: list[str] = []
    fixtures.CACHE_ROOT.mkdir(parents=True, exist_ok=True)
    scratch = Path(tempfile.mkdtemp(dir=fixtures.CACHE_ROOT))
    try:
        for mode in fixtures.SCALES:
            expected[mode] = {}
            for seed in (0, 1):
                inputs = fixtures.prepare(mode, seed)
                ctx = Ctx(spark=spark, specs=specs, inputs=inputs,
                          out=scratch / f"{mode}-{seed}")
                for workload, ops in WORKLOADS.items():
                    for op in ops:
                        rows, digest = op.check(op.act(ctx, op.build(ctx)))
                        entry = expected[mode].setdefault(
                            op.name, {"workload": workload, "rows": rows, "digest": digest})
                        if [rows, digest] != [entry["rows"], entry["digest"]]:
                            problems.append(f"{mode}/{op.name}: layout seed {seed} gives "
                                            f"{rows}/{digest}, seed 0 {entry}")
                        if seed == 0:
                            sql = oracle_sql(specs, op.name)
                            src = "corpus" if workload == "vector" else "star"
                            if sql is None:
                                entry["oracle"] = "none"
                            elif oracle_digest(sql, inputs[src], _DIRS[src]) == (rows, digest):
                                entry["oracle"] = "duckdb match"
                            else:
                                entry["oracle"] = "duckdb MISMATCH"
                                problems.append(f"{mode}/{op.name}: duckdb mismatch")
                        print(mode, seed, op.name, rows, digest, entry.get("oracle"),
                              flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    (HERE / "expected.json").write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
