"""Sync the coverage counts in COVERAGE.md and README.md with the registry.

Usage:  python selfcheck.py

Rewrites the marker-delimited count lines from the registry (its size, its
oracle count and its rows-only names) and prints ``{"synced_files": n}``.
``tests/test_harness.py::test_coverage_counts_in_sync`` fails when they
drift.  The differential sweep of every query against its DuckDB oracle is
``tests/test_oracle_all.py`` (``make check``).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _counts_block() -> tuple[str, str]:
    """Compute the coverage headline from the registry itself: returns
    (COVERAGE.md block, README.md inline fragment).  The numbers can never
    drift from the code because they are read from the registry: its size,
    its oracle count and its rows-only names."""
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


if __name__ == "__main__":
    print(json.dumps({"synced_files": sync_counts()}))
