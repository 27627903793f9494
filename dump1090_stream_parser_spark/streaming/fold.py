"""One fold kernel for the streaming twins.

Every twin is a per-key fold over a stream: a projection picks the
key and the columns the fold needs, a ``step`` folds one key's rows
of one micro-batch into that key's state, and whatever the step
emits is appended to the sink. This module owns the
``applyInPandasWithState`` protocol once, so each twin supplies only
its projection, its step and its schemas:

- :func:`fold_stream` -- state get-or-``None``, one concatenated
  pandas frame per key per micro-batch, ``update``, emit. Peak Python
  memory is therefore one key's rows of one micro-batch, for every
  twin; the sources bound a micro-batch. A static
  (non-streaming) frame runs the SAME step once per key through
  ``groupBy(keys).applyInPandas``, starting from ``None``: a twin's
  batch answer and its one-micro-batch stream answer are one code
  path, which is what lets each twin's stream == batch claim be
  checked without starting a streaming query.
- :func:`versioned_stream` -- the versioned-emission contract on top
  of :func:`fold_stream`: the kernel keeps a ``ver long`` after the
  twin's state columns, bumps it once per micro-batch that changed the
  state, and stamps it on every emitted row. A twin's ``fold`` returns
  ``None`` for "no change" (no update, no bump, no emission).
- :func:`latest` -- the current table of a versioned sink: every row
  at its key's max ``ver``. Sketch twins emit MANY rows per version
  (a bottom-k, a grid block, a summary), so the reducer keeps all rows
  at the max, never one row per key.

A twin whose state is bounded by construction runs with
``GroupStateTimeout.NoTimeout``. A twin whose state must age out
passes ``ttl_ms`` (``stateful``'s aircraft and ``near_dup``'s band
keys grow with the stream; ``semantic_dedup``'s idle cells drop their
member lists): the kernel then runs ``ProcessingTimeTimeout``, removes
a key's state on its timed-out call (which carries no rows) and
re-arms the timeout on every call with data, since Spark clears a
timeout the call does not set again. The static branch has no
timeouts.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: step(key, rows, state) -> (new_state | None, emitted rows | None).
#: ``state`` is ``None`` for a key's first micro-batch; a ``None`` new
#: state leaves the stored state untouched.
Step = Callable[
    [tuple, pd.DataFrame, tuple | None],
    tuple[tuple | None, pd.DataFrame | None],
]


def fold_stream(
    keyed: DataFrame,
    keys: list[str],
    step: Step,
    state_ddl: str,
    out_ddl: str,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Fold ``keyed`` per ``keys`` with ``step``: an append-mode
    stream when ``keyed`` streams, else one fold per key over the
    whole frame. ``ttl_ms`` evicts a key idle that long (processing
    time)."""
    if not keyed.isStreaming:

        def once(key: tuple, rows: pd.DataFrame) -> pd.DataFrame:
            _, out = step(key, rows, None)
            return pd.DataFrame() if out is None else out

        return keyed.groupBy(*keys).applyInPandas(once, out_ddl)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        new, out = step(key, rows, state.get if state.exists else None)
        if new is not None:
            state.update(new)
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out is not None and len(out):
            yield out

    return keyed.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_ddl,
        stateStructType=state_ddl,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def versioned(
    fold: Callable[[tuple, pd.DataFrame, tuple | None], tuple | None],
    emit: Callable[[tuple, tuple], pd.DataFrame],
) -> Step:
    """The :func:`versioned_stream` step: ``fold(key, rows, acc)``
    returns the new accumulator (the state columns before ``ver``) or
    ``None`` for no change; ``emit(key, acc)`` renders the output rows
    the kernel stamps with the bumped ``ver``."""

    def step(key, rows, state):
        acc, ver = (None, 0) if state is None else (state[:-1], state[-1])
        acc = fold(key, rows, acc)
        if acc is None:
            return None, None
        ver = int(ver) + 1
        return (*acc, ver), emit(key, acc).assign(ver=ver)

    return step


def versioned_stream(
    keyed: DataFrame,
    keys: list[str],
    fold,
    emit,
    state_ddl: str,
    out_ddl: str,
) -> DataFrame:
    """:func:`fold_stream` with a kernel-owned ``ver``: appended to
    ``state_ddl`` and ``out_ddl`` (the emitted rows' last column).
    The current table is :func:`latest` over the sink."""
    return fold_stream(
        keyed,
        keys,
        versioned(fold, emit),
        f"{state_ddl}, ver long",
        f"{out_ddl}, ver long",
    )


def latest(rows: DataFrame, keys: list[str]) -> DataFrame:
    """Every emitted row at its key's max ``ver`` (``ver`` dropped):
    the group-max of ``ver`` per key, then all rows that carry it --
    a version's many rows survive together. NULL key values group
    like any other value."""
    top = F.max("ver").over(Window.partitionBy(*keys))
    return (
        rows.withColumn("_top", top)
        .filter(F.col("ver") == F.col("_top"))
        .drop("ver", "_top")
    )
