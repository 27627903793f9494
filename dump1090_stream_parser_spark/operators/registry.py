"""Query registry: one place where every operator's Spark implementation
meets its DuckDB oracle SQL (the driver's correctness gate,
__spark_entry__.py contract).

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` plus an optional
ANSI-SQL string DuckDB can run over the same parquet tables. Queries whose
semantics are not SQL-expressible (custom stateful streaming, LSH variants
kept as scale paths) register ``oracle=None`` and get the driver's weaker
rows-only check.

The driver oracles the FIRST 50 entries of ``queries_map()``. That order
is derived, not hand-kept: ``green.json`` records, per query, the newest
driver round that certified it (rows and value hash green) and the sha256
of its source block at that round's commit (``tools/green_ledger.py``
writes it). ``window_order`` puts first every query whose block no longer
matches its ledger entry, or that has none, then the rest oldest
certification first, so changed code is always re-certified and every
query's certification ages out in turn.
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: query -> {"round": newest green driver round, "block": sha256 of the
#: query's source block at that round's commit}.
LEDGER_PATH = os.path.join(os.path.dirname(__file__), "green.json")


@dataclass(frozen=True)
class Entry:
    fn: QueryFn
    oracle: str | None
    doc: str


REGISTRY: dict[str, Entry] = {}


def query(name: str, oracle: str | None = None):
    """Register a query under ``name`` with an optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = Entry(fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip())
        return fn

    return deco


def _block(source: str, fn_name: str) -> str | None:
    """The decorator-through-function source block for ``fn_name``:
    from the nearest preceding top-level decorator (oracle contract
    included) to the next top-level statement."""
    lines = source.splitlines()
    start = None
    for i, line in enumerate(lines):
        if re.match(rf"def {re.escape(fn_name)}\(", line):
            start = i
            break
    if start is None:
        return None
    deco = start
    j = start - 1
    # walk up through the contiguous decorator block (its continuation
    # lines are indented; its openers start with @ at column 0)
    while j >= 0:
        line = lines[j]
        if line.startswith("@"):
            deco = j
            j -= 1
            continue
        if line.strip() == "" or line[:1] in (" ", ")", "]", "}"):
            j -= 1
            continue
        break
    end = len(lines)
    for i in range(start + 1, len(lines)):
        line = lines[i]
        if line and not line[0].isspace() and not line.startswith(")"):
            end = i
            break
    return "\n".join(lines[deco:end]).rstrip()


def block_digest(block: str | None) -> str | None:
    return None if block is None else hashlib.sha256(block.encode()).hexdigest()


def load_ledger() -> dict[str, dict]:
    with open(LEDGER_PATH) as f:
        return json.load(f)


def window_order(
    blocks: dict[str, str | None], ledger: dict[str, dict]
) -> tuple[list[str], list[str]]:
    """(order, drifted) for ``blocks`` (query -> current block digest,
    in registration order): the drifted queries -- no ledger entry, or a
    block that differs from the certified one -- in registration order,
    then the rest oldest certification round first."""
    drifted = [
        n for n, b in blocks.items()
        if n not in ledger or ledger[n]["block"] != b
    ]
    stale = set(drifted)
    held = [n for n in blocks if n not in stale]
    held.sort(key=lambda n: ledger[n]["round"])  # stable: ties keep registration order
    return drifted + held, drifted


def current_blocks() -> dict[str, str | None]:
    """query -> digest of its source block as it stands, in registration
    order (each module file is read once)."""
    sources: dict[str, str] = {}
    blocks = {}
    for name, entry in REGISTRY.items():
        path = inspect.getsourcefile(entry.fn)
        if path not in sources:
            with open(path) as f:
                sources[path] = f.read()
        blocks[name] = block_digest(_block(sources[path], entry.fn.__name__))
    return blocks


def derived_order() -> tuple[tuple[str, ...], tuple[str, ...]]:
    """(order, drifted) for the live registry, computed on first use
    (never at import: Python workers import the operator modules) and
    again only if the registered names change."""
    return _derived(tuple(REGISTRY))


@functools.cache
def _derived(names: tuple[str, ...]) -> tuple[tuple[str, ...], tuple[str, ...]]:
    # ``names`` only keys the cache: a registry that grew is re-derived
    order, drifted = window_order(current_blocks(), load_ledger())
    return tuple(order), tuple(drifted)


def queries_map() -> dict[str, QueryFn]:
    return {name: REGISTRY[name].fn for name in derived_order()[0]}


def oracle_sql_map() -> dict[str, str]:
    return {
        name: entry.oracle for name, entry in REGISTRY.items() if entry.oracle
    }
