"""Generate docs/QUERIES.md from the live operator registry.

Usage: python tools/make_catalog.py > docs/QUERIES.md

Keeps the human-readable catalog honest: it is derived from the same
REGISTRY the driver harness sees, so it cannot drift from the code.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dump1090_stream_parser_spark.operators import (  # noqa: E402
    REGISTRY,
    queries_map,
)


def main() -> None:
    full = {n: e for n, e in REGISTRY.items() if e.oracle}
    rows_only = {n: e for n, e in REGISTRY.items() if not e.oracle}
    window = set(list(queries_map())[:50])
    print("# Query catalog (generated -- do not edit)")
    print()
    print(f"{len(REGISTRY)} registered queries: {len(full)} with a full")
    print("DuckDB value oracle, "
          f"{len(rows_only)} rows-only (sketches/stubs with bounded-error")
    print("or unit tests instead). Regenerate with "
          "`python tools/make_catalog.py > docs/QUERIES.md`.")
    print()
    print(f"eval = `window`: one of the {len(window)} queries the external")
    print("driver's per-round correctness gate evaluates (it reads the")
    print("first 50 registry entries); `tail`: past that window. The")
    print("window is derived (`operators/registry.py` `window_order`):")
    print("queries whose code changed since their last green driver row")
    print("first, then the oldest certifications. EVERY query, windowed or")
    print("not, is held to the same DuckDB parity locally")
    print("(tests/test_parity.py at sf0.001; tools/parity.py sweeps")
    print("sf0.01/0.1).")
    print()
    print("| query | oracle | eval | summary |")
    print("| --- | --- | --- | --- |")
    for name in sorted(REGISTRY):
        entry = REGISTRY[name]
        first_line = (entry.doc.splitlines() or [""])[0].strip()
        kind = "full" if entry.oracle else "rows-only"
        ev = "window" if name in window else "tail"
        print(f"| `{name}` | {kind} | {ev} | {first_line} |")


if __name__ == "__main__":
    main()
