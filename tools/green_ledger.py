"""Re-stamp the oracle-window ledger (operators/green.json) from one
driver correctness file:

    python tools/green_ledger.py CORRECTNESS_r15.json

Every registered query the file marks green (``rows_match`` and
``hash_match``) gets ``{"round": N, "block": sha256}``, where the block
is its decorator-through-function source as of the commit whose subject
starts "round N: verdict" (the tree that round's driver evaluated). A
block missing at that commit is stamped ``null``, which never matches,
so the query stays first in the window. Rebuild the whole ledger by
running the tool over every CORRECTNESS file in round order.
"""

from __future__ import annotations

import inspect
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dump1090_stream_parser_spark.operators import REGISTRY  # noqa: E402
from dump1090_stream_parser_spark.operators.registry import (  # noqa: E402
    LEDGER_PATH, _block, block_digest, load_ledger)


def _git(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(["git", *args], cwd=REPO, capture_output=True, text=True)


def main(path: str) -> None:
    n = int(re.search(r"_r(\d+)\.json$", path).group(1))
    commit = _git("log", "-1", "--format=%H", "--fixed-strings",
                  "--grep", f"round {n}: verdict").stdout.strip()
    if not commit:
        raise SystemExit(f"no 'round {n}: verdict' commit in this history")
    with open(path) as f:
        rows = json.load(f)
    ledger = load_ledger() if os.path.exists(LEDGER_PATH) else {}
    for q, v in rows.items():
        if q not in REGISTRY or not (v.get("rows_match") and v.get("hash_match")):
            continue
        fn = REGISTRY[q].fn
        rel = os.path.relpath(inspect.getsourcefile(fn), REPO)
        old = _git("show", f"{commit}:{rel}")
        block = _block(old.stdout, fn.__name__) if old.returncode == 0 else None
        ledger[q] = {"round": n, "block": block_digest(block)}
    with open(LEDGER_PATH, "w") as f:
        f.write("{\n" + ",\n".join(
            f" {json.dumps(q)}: {json.dumps(ledger[q])}" for q in sorted(ledger)
        ) + "\n}\n")


if __name__ == "__main__":
    main(sys.argv[1])
