"""Pure-pandas split checks for the streaming twins' folds
(streaming/fold.py).

:func:`fold_batches` replays a twin's ``step`` over a list of pandas
micro-batches the way ``fold_stream`` does -- per key and batch: that
key's rows, the stored state or ``None``, the new state kept unless
``None``, the emitted rows appended -- so "the stream equals the batch
answer under any allowed split" is checked on the fold itself, without
starting a streaming query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def fold_batches(step, keys, batches) -> pd.DataFrame:
    state: dict[tuple, tuple] = {}
    out = []
    for batch in batches:
        for key, rows in batch.groupby(keys, sort=False, dropna=False):
            key = key if isinstance(key, tuple) else (key,)
            new, emitted = step(
                key, rows.reset_index(drop=True), state.get(key)
            )
            if new is not None:
                state[key] = new
            if emitted is not None and len(emitted):
                out.append(emitted)
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame()


def latest(rows: pd.DataFrame, keys) -> pd.DataFrame:
    """The pandas form of ``fold.latest``: rows at their key's max
    ``ver``, ``ver`` dropped."""
    top = rows.groupby(keys, dropna=False)["ver"].transform("max")
    return rows[rows["ver"] == top].drop(columns="ver")


def canon(df: pd.DataFrame) -> list[tuple]:
    """Order-free comparable form of a frame: its rows as sorted
    tuples (columns by name), array cells as tuples, missing as None."""

    def cell(v):
        if isinstance(v, (list, tuple, np.ndarray)):
            return tuple(cell(x) for x in v)
        if v is None or v is pd.NA or (isinstance(v, float) and v != v):
            return None
        return v.item() if isinstance(v, np.generic) else v

    cols = sorted(df.columns)
    return sorted(
        (tuple(cell(v) for v in row) for row in df[cols].itertuples(False)),
        key=repr,
    )


def random_split(rows: pd.DataFrame, rng, max_batches: int = 5):
    """Cut ``rows`` as given into 2..max_batches contiguous
    micro-batches; rows inside a micro-batch arrive in any order."""
    n_cuts = rng.integers(1, max_batches)
    cuts = np.sort(rng.integers(0, len(rows) + 1, n_cuts))
    return [
        rows.iloc[rng.permutation(part)]
        for part in np.split(np.arange(len(rows)), cuts)
    ]


def assert_any_split_folds_alike(step, keys, rows, reduce, rng, order=None):
    """Folding ``rows`` over a random split reduces to the same current
    table as one fold over all of them. ``order`` (columns) makes the
    fold ordered: splits are contiguous in that order. Without it every
    split is allowed: rows are shuffled before the cut."""
    if order:
        rows = rows.sort_values(order, kind="stable")
    else:
        rows = rows.iloc[rng.permutation(len(rows))]
    whole = reduce(fold_batches(step, keys, [rows]))
    assert whole, "the one-fold table must not be empty"
    assert reduce(fold_batches(step, keys, random_split(rows, rng))) == whole
