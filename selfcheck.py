"""Driver-shaped correctness self-check: run EVERY registered query against
its DuckDB oracle with the driver's semantics (row count + schema + type-
sensitive value hash) and emit a CORRECTNESS_r0N.json-compatible report.

Usage:  python selfcheck.py [--sf-dir /root/testdata/sf0.01] [--only name,...]
        make check

Exit code 0 iff every oracle-checked query matches on rows+schema+hash and
no query errors.  Rounds 3+ must never discover driver/local divergence
post-hoc: run this before every round ends.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _value_hash(norm_rows: list[tuple]) -> str:
    """Order-insensitive, type-class-sensitive digest of normalized rows
    (tests.conftest.normalize already sorts rows and columns)."""
    h = hashlib.sha256()
    for row in norm_rows:
        h.update(repr(row).encode())
        h.update(b"\x00")
    return h.hexdigest()


def _counts_block() -> tuple[str, str]:
    """Compute the coverage headline from the registry itself (VERDICT r7
    stretch #8): returns (COVERAGE.md block, README.md inline fragment).
    The numbers can never drift from the code because they are read from
    the registry: its size, its oracle count and its rows-only names."""
    import textwrap

    from auron_spark.registry import load_all

    specs = load_all()
    total = len(specs)
    rows_only = sorted(n for n, s in specs.items() if s.oracle is None)
    n_oracle = total - len(rows_only)
    names = ", ".join(f"`{n}`" for n in rows_only)
    block = textwrap.fill(
        f"**{total} registered queries, {n_oracle} with exact DuckDB "
        f"oracles** (rows-only: {names}).",
        width=74,
    )
    inline = (
        f"{total} registered queries, {n_oracle} with exact\nDuckDB oracles"
    )
    return block, inline


def dirty_round_records() -> list[str]:
    """Round-record files whose on-disk state differs from git HEAD
    (VERDICT r15 wrong #1, second consecutive dirty close: the closing
    bench's bracket min-merges were left uncommitted while the walls were
    committed).  The suite gate `test_harness.py::test_round_records_committed`
    fails on any name returned here, so a bench run's bracket update must be
    committed before the round's final green partest — making the r14/r15
    dirty-close recurrence structurally impossible rather than a chore.
    `partest_walls.json` is deliberately NOT checked: the final partest
    itself refreshes it, so it is committed together with the brackets in
    the round-close commit."""
    import subprocess

    out = subprocess.run(
        ["git", "diff", "--name-only", "HEAD", "--", "bench_brackets.json"],
        capture_output=True, text=True, cwd=_REPO,
    )
    if out.returncode != 0:  # not a git repo / no HEAD yet — nothing to gate
        return []
    return [ln.strip() for ln in out.stdout.splitlines() if ln.strip()]


def sync_counts(check_only: bool = False) -> int:
    """Rewrite (or verify, for the drift test) the marker-delimited count
    lines in COVERAGE.md and README.md from the registry."""
    import re

    block, inline = _counts_block()
    specs = [
        (
            Path(_REPO) / "COVERAGE.md",
            r"(<!-- counts:begin[^>]*-->\n).*?(\n<!-- counts:end -->)",
            block,
        ),
        (
            Path(_REPO) / "README.md",
            r"(<!-- counts:inline-begin -->).*?(<!-- counts:inline-end -->)",
            inline,
        ),
    ]
    drift = 0
    for path, pat, payload in specs:
        text = path.read_text()
        new = re.sub(pat, lambda m: m.group(1) + payload + m.group(2),
                     text, count=1, flags=re.S)
        assert re.search(pat, text, flags=re.S), f"markers missing in {path}"
        if new != text:
            drift += 1
            if check_only:
                print(f"COUNT DRIFT in {path}", file=sys.stderr)
            else:
                path.write_text(new)
    return drift


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="", help="comma-separated query names")
    ap.add_argument("--out", default="CORRECTNESS_self.json")
    ap.add_argument(
        "--sync-counts", action="store_true",
        help="regenerate the COVERAGE.md/README.md coverage counts from "
        "the registry and exit",
    )
    args = ap.parse_args()

    if args.sync_counts:
        changed = sync_counts()
        print(json.dumps({"synced_files": changed}))
        return 0

    import duckdb

    from auron_spark.registry import load_all
    from auron_spark.session import get_spark
    from auron_spark.tables import TABLE_NAMES
    from tests.conftest import normalize

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{args.sf_dir}/{name}.parquet')"
        )

    # Pre-flight fixture-schema canary: the driver regenerates /root/testdata
    # between rounds and has drifted column types before (round 4: events.ts
    # ns-int64 → timestamp[us]).  Fail loudly HERE, with one message, rather
    # than as dozens of per-query errors.
    from auron_spark.tables import table as _table

    canary = {
        "events": {"ts": {"timestamp", "timestamp_ntz"}},
        "lineitem": {"l_shipdate": {"date", "timestamp", "timestamp_ntz"}},
        "orders": {"o_orderdate": {"date", "timestamp", "timestamp_ntz"}},
        "embeddings": {"embedding": {"array<float>", "array<double>"}},
    }
    for tbl, cols in canary.items():
        dtypes = dict(_table(spark, args.sf_dir, tbl).dtypes)
        for col, allowed in cols.items():
            if dtypes.get(col) not in allowed:
                print(
                    f"FIXTURE SCHEMA DRIFT: {tbl}.{col} reads as "
                    f"{dtypes.get(col)!r}, expected one of {sorted(allowed)} — "
                    "the driver regenerated fixtures; audit tables.py",
                    file=sys.stderr,
                )
                return 2

    specs = load_all()
    names = [n for n in args.only.split(",") if n] or list(specs)
    report: dict[str, dict] = {}
    t0 = time.time()
    n_fail = 0
    for name in names:
        spec = specs[name]
        row = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            from tests.conftest import assert_oracle_scale_consistent

            # ADVICE r7 #2: serve-tagged oracles pin an artifact path at
            # import time — fail with a clear message on a scale mismatch
            # instead of an opaque hash mismatch.
            assert_oracle_scale_consistent(spec, args.sf_dir)
            sdf = spec.build(spark, args.sf_dir).toPandas()
            row["spark_rows"] = len(sdf)
            if spec.oracle is None:
                # rows-only check, same as the driver's weaker path
                row["rows_match"] = True
            else:
                odf = con.execute(spec.oracle).df()
                row["oracle_rows"] = len(odf)
                row["rows_match"] = len(sdf) == len(odf)
                row["schema_match"] = sorted(map(str.lower, sdf.columns)) == sorted(
                    map(str.lower, odf.columns)
                )
                row["hash_match"] = _value_hash(normalize(sdf)) == _value_hash(
                    normalize(odf)
                )
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            row["err"] = f"{type(e).__name__}: {e}"[:500]
        report[name] = row
        ok = row["err"] is None and row["rows_match"] in (True, None) and row[
            "hash_match"
        ] in (True, None) and row["schema_match"] in (True, None)
        if not ok:
            n_fail += 1
            print(f"FAIL {name}: {row}", file=sys.stderr)

    Path(args.out).write_text(json.dumps(report, indent=2))
    n_oracle = sum(1 for n in names if specs[n].oracle)
    print(
        json.dumps(
            {
                "checked": len(names),
                "oracle_checked": n_oracle,
                "failed": n_fail,
                "wall_sec": round(time.time() - t0, 1),
                "out": args.out,
            }
        )
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
